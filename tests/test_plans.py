"""Physical-plan assertions: the scale properties the operators claim
in their docstrings must actually appear in the executed plan
(predicate pushdown, column pruning, broadcast joins, top-k
heaps, map-side partial aggregation). These are the
"would this survive 100×?" checks, kept as living tests so a
refactor that silently degrades a plan fails CI."""

from __future__ import annotations

import re

import pytest

from mapreducepy_spark.plans import executed_plan, plan_text, read_schema_line
from mapreducepy_spark.registry import load_catalog

CATALOG = load_catalog()


def plan_of(spark, name, sf_dir, mode="formatted") -> str:
    return plan_text(CATALOG[name].builder(spark, sf_dir), mode)


def test_scan_project_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, "scan_project", sf_dir)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan
    # column pruning: the scan must not read the unused timestamp col
    read_schema = read_schema_line(CATALOG["scan_project"].builder(spark, sf_dir))
    assert "o_orderdate" not in read_schema
    assert "o_totalprice" in read_schema


def test_filter_pred_pushes_range_predicates(spark, sf_dir):
    plan = plan_of(spark, "filter_pred", sf_dir)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    assert "In(l_returnflag" in plan


def test_agg_group_has_partial_and_final_aggregation(spark, sf_dir):
    plan = plan_of(spark, "agg_group", sf_dir)
    assert "partial_sum" in plan  # map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_join_inner_broadcasts_dimension(spark, sf_dir):
    plan = plan_of(spark, "join_inner", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_join_multi_broadcasts_all_small_dims(spark, sf_dir):
    plan = plan_of(spark, "join_multi", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_semi_anti_plan_shapes(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, "join_semi", sf_dir)
    assert "LeftAnti" in plan_of(spark, "join_anti", sf_dir)


def test_theta_join_is_hash_join_not_cartesian(spark, sf_dir):
    """The equi component (nationkey) must carry the join; the range
    predicate is a post-join condition."""
    plan = plan_of(spark, "join_theta_range", sf_dir)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_sort_limit_uses_topk_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, "sort_limit", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, "topk_per_group", sf_dir)
    assert "WindowGroupLimit" in plan  # per-partition k-heap below shuffle


def test_tfidf_broadcasts_vocabulary_side(spark, sf_dir):
    plan = plan_of(spark, "text_tfidf", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_ann_lsh_bucket_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "sim_ann_lsh", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    # codegen stages (`*(n)` markers) only appear once AQE finalizes;
    # collect() (not a sink write, which gets its OWN execution)
    # finalizes this DataFrame's plan
    for name in ("agg_group", "filter_pred", "project_expr", "win_rank"):
        df = CATALOG[name].builder(spark, sf_dir)
        df.collect()
        plan = executed_plan(df)
        assert "*(" in plan, f"{name}: no WholeStageCodegen stage in final plan"


@pytest.mark.parametrize("name", ["scan_count", "agg_count_distinct"])
def test_counts_prune_to_minimal_schema(spark, sf_dir, name):
    read_schema = read_schema_line(CATALOG[name].builder(spark, sf_dir))
    # count(*) needs zero data columns; count-distinct two
    assert "l_extendedprice" not in read_schema
    assert "o_totalprice" not in read_schema


def test_salted_join_matches_plain_join(spark, sf_dir):
    """salted_join must be a pure plan rewrite: identical rows to the
    unsalted join, salt column never escapes, and the small side is
    exploded (replicated) rather than the join degrading to a
    cartesian product."""
    from pyspark.sql import functions as F

    from mapreducepy_spark.io import load
    from mapreducepy_spark.plans import plan_text, salted_join

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    salted = salted_join(o, c, o.o_custkey == c.c_custkey, n_salts=8)
    plain = o.join(c, o.o_custkey == c.c_custkey)
    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    a = salted.agg(F.sum("o_totalprice"), F.sum("c_acctbal")).collect()[0]
    b = plain.agg(F.sum("o_totalprice"), F.sum("c_acctbal")).collect()[0]
    assert a == b
    plan = plan_text(salted)
    assert "Generate" in plan and "explode" in plan  # small side replicated per salt
    assert "CartesianProduct" not in plan


def test_salted_join_rejects_small_side_preserving_modes(spark, sf_dir):
    """right/full(/right_semi/right_anti) would emit each unmatched
    small-side row once per salt — salted_join must refuse, not
    silently duplicate."""
    import pytest

    from mapreducepy_spark.io import load
    from mapreducepy_spark.plans import salted_join

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(o, c, o.o_custkey == c.c_custkey, n_salts=4, how=how)


@pytest.mark.parametrize("name", ["join_asof", "join_asof_forward"])
def test_asof_join_is_union_timeline_not_join(spark, sf_dir, name):
    """Both as-of directions must run as the union-sort-carry
    timeline (one window shuffle, O(1) state per row), never as an
    equi-join whose output fans out each event times the user's
    full order history."""
    plan = plan_of(spark, name, sf_dir)
    assert "Join" not in plan  # no join node of any kind
    assert "Window" in plan


def test_min_cost_supplier_filters_below_agg_one_shuffle(spark, sf_dir):
    """Q2 shape: the region filter must reach the fact table as a
    broadcast LEFT SEMI below the aggregation (filter-first), and
    ONE partkey exchange must serve both the (partkey, suppkey)
    grouping (prefix partitioning) and the argmin window."""
    plan = plan_of(spark, "join_min_cost_supplier", sf_dir, mode="simple")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_merge_upsert_is_union_window_not_join(spark, sf_dir):
    """The MERGE must run as union + one key-window (single shuffle,
    untouched base rows ride it once), never as base-join-changes
    (which shuffles the base twice)."""
    plan = plan_of(spark, "merge_upsert", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_is_one_window_no_self_join(spark, sf_dir):
    """SCD2 interval derivation must be a single window (row_number
    + lead share one sort), never the quadratic t1-join-t2-min
    formulation."""
    plan = plan_of(spark, "scd2_intervals", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_binned_hash_join_not_nested_loop(spark, sf_dir):
    """The pure-interval join must run on the bin equi-key (hash
    join after an explode), never as BNL/cartesian over n² pairs."""
    plan = plan_of(spark, "join_range_binned", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan and "explode" in plan  # probe-side bin fan-out


@pytest.mark.parametrize(
    "name",
    [
        "dedup_near",
        "dedup_ngram_jaccard",
        "dedup_jaccard_capped",
        "dedup_simhash",
        "dedup_containment",
        "sim_ann_ivf",
    ],
)
def test_dedup_family_never_goes_cartesian(spark, sf_dir, name):
    """Every near-dup / ANN operator claims 'bucketed / inverted-index,
    never all-pairs' — so no plan may contain a cartesian product or
    an un-keyed nested-loop join."""
    plan = plan_of(spark, name, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sim_knn_chunk_merge_is_window_topk(spark, sf_dir):
    """The chunked brute-force kNN merges per-chunk partials with a
    row_number window — no join, no cartesian, no global sort of the
    candidate set. Pinned on the un-cached build: the registered
    sim_knn key serves its result from the content-keyed session
    cache, whose plan is a checkpoint scan by construction."""
    from mapreducepy_spark.llm.similarity import _build_exact_topk

    plan = plan_text(_build_exact_topk(spark, sf_dir), "formatted")
    assert "CartesianProduct" not in plan
    assert "row_number" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan
    # the cached registered key must still be cartesian-free
    assert "CartesianProduct" not in plan_of(spark, "sim_knn", sf_dir)


@pytest.mark.parametrize("name", ["events_retention", "agg_mode"])
def test_round3_small_side_broadcasts(spark, sf_dir, name):
    """The cohort table (one row per user) / the nation dim must reach
    the big side as a broadcast, never a sort-merge shuffle."""
    plan = plan_of(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "text_pack_sequences",
        "text_bigrams",
        "text_quality_filter",
        "dedup_near_verified",
        "embed_norm_bins",
        "events_retention",
        "events_paths",
        "win_streak",
        "agg_weighted_avg",
        "agg_mode",
    ],
)
def test_round3_operators_stay_jvm_side(spark, sf_dir, name):
    """None of the round-3 operators may fall back to row-at-a-time
    Python evaluation or an unkeyed pair join — everything is built-in
    expressions (codegen) over keyed shuffles."""
    plan = plan_of(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan  # no per-row Python UDF
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_has_no_explode(spark, sf_dir):
    """Token counting in the packer must be a narrow map (size of the
    split array), never an explode + count — at 100 TB the explode
    would be the whole corpus token stream."""
    plan = plan_of(spark, "text_pack_sequences", sf_dir)
    assert "Generate" not in plan


@pytest.mark.parametrize("name", ["text_repetition", "fn_regex"])
def test_narrow_ops_have_no_keyed_exchange(spark, sf_dir, name):
    """Both operators claim ZERO algorithmic shuffle (pure per-row
    projection via higher-order array functions / regex scalars) — no
    hash/range Exchange allowed. The round-robin Exchange from
    ``load_spread`` (single-file fixture fan-out) is data
    distribution, not algorithm, and is permitted."""
    plan = plan_of(spark, name, sf_dir, mode="simple")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["text_oov_rate", "events_anomaly", "events_dau_rolling"]
)
def test_round3b_small_side_broadcasts(spark, sf_dir, name):
    """The top-K vocab / per-type stats / observed-days table are all
    tiny by construction — they must reach the big side as broadcasts,
    never a sort-merge shuffle of the stream."""
    plan = plan_of(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dau_rolling_contribution_not_self_join(spark, sf_dir):
    """The 7-day distinct-user count must come from the explode-
    contribution pattern (Generate over sequence(d, d+6)), not an
    events-by-events range self-join — the plan has a Generate and
    its only joins are broadcasts."""
    plan = plan_of(spark, "events_dau_rolling", sf_dir)
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "text_keywords",
        "text_perplexity_proxy",
        "dedup_minhash_est",
        "agg_pareto",
        "events_user_lifecycle",
    ],
)
def test_round3c_operators_stay_jvm_side(spark, sf_dir, name):
    """The late-round-3 batch: built-in expressions only, no per-row
    Python, no unkeyed pair join."""
    plan = plan_of(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_keywords_topk_is_window_group_limit(spark, sf_dir):
    """rank<=3 over the per-doc window must execute as a
    WindowGroupLimit (per-partition heaps), not a full sort of every
    document's term list followed by a filter."""
    plan = plan_of(spark, "text_keywords", sf_dir)
    assert "WindowGroupLimit" in plan


def test_perplexity_unigram_table_broadcasts(spark, sf_dir):
    """The vocabulary-sized unigram table must reach the tf side as a
    broadcast — the corpus-sized side never shuffles for the probe."""
    plan = plan_of(spark, "text_perplexity_proxy", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pareto_prefix_is_distributed(spark, sf_dir):
    """The cumulative-share pass is the two-level distributed prefix
    sum over exact BIGINT cents (r12): the only Window is partitioned
    by the shard id — the supplier frame is never funneled through
    one task — and the shard-offset frames stay broadcast-joined."""
    plan = plan_of(spark, "agg_pareto", sf_dir, mode="simple")
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs
    for ln in specs:
        assert "__pid" in ln, f"partition-less window crept back in: {ln}"
    assert "SortMergeJoin" not in plan


def test_session_stats_shuffles_once_on_user(spark, sf_dir):
    """events_session_stats claims ONE user-keyed shuffle: the
    sessionize windows partition by user_id, and both later groupBys
    key on user_id or a superset — hashpartitioning(user_id)
    satisfies ClusteredDistribution(user_id, session_seq), so the
    per-session aggregate reuses the partitioning too."""
    plan = plan_of(spark, "events_session_stats", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_entropy_combines_before_every_exchange(spark, sf_dir):
    """events_entropy deliberately takes TWO exchanges, and the first
    must be fed by a partial (user, type) count — the raw stream is
    combiner-compressed map-side before it ever rides the network;
    everything after the first shuffle is ct-table-sized."""
    plan = plan_of(spark, "events_entropy", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_gini_dimension_joins_broadcast(spark, sf_dir):
    """supplier and nation are dimension tables — they must reach the
    aggregated revenue side as broadcasts; the rank window partitions
    by nation over the supplier-sized aggregate, never the fact
    table."""
    plan = plan_of(spark, "agg_gini", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_charlm_model_broadcasts(spark, sf_dir):
    """The charset²-sized bigram model must reach the per-(doc,
    bigram) probe side as a broadcast — the corpus-sized side never
    shuffles for the probe; no Python anywhere."""
    plan = plan_of(spark, "text_charlm", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_length_profile_shuffles_once_on_source(spark, sf_dir):
    """text_length_profile claims ONE source-keyed shuffle shared by
    the rank window and the rollup (the load_spread round-robin is
    data distribution, not algorithm)."""
    plan = plan_of(spark, "text_length_profile", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_zipf_combines_wordcount_before_shuffle(spark, sf_dir):
    """The corpus-sized side of text_zipf is the wordcount, which
    must collapse map-side (partial aggregation) before any exchange;
    the fit itself runs over the vocabulary table."""
    plan = plan_of(spark, "text_zipf", sf_dir, mode="simple")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_cross_source_joins_on_digest_not_text(spark, sf_dir):
    """The provenance self-join must key on the 16-byte digest with
    the inequality as a post-filter — never a cartesian of the corpus
    — and documents' text must not survive past the digest
    projection: no Exchange (shuffle) may carry the text column."""
    import re

    plan = plan_of(spark, "dedup_cross_source", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # formatted-plan node blocks: no keyed exchange and no broadcast
    # exchange may carry the text column — text never rides any
    # algorithmic data movement. (load_spread's RoundRobin fixture
    # fan-out is data distribution below the digest projection —
    # the test_narrow_ops_have_no_keyed_exchange rule.)
    for block in re.split(r"\n\(\d+\) ", plan):
        if block.startswith("BroadcastExchange") or (
            block.startswith("Exchange")
            and ("hashpartitioning" in block or "rangepartitioning" in block)
        ):
            assert "text#" not in block, block


def test_pipeline_clean_corpus_fuses_stages(spark, sf_dir):
    """The composed pipeline must run as one fused plan: the
    decontamination blocklist reaches the corpus as a broadcast
    anti-join, the dedup is a digest-keyed window (never a self
    cartesian), and no stage drops to Python."""
    plan = plan_of(spark, "pipeline_clean_corpus", sf_dir)
    assert "BroadcastHashJoin" in plan          # anti-join blocklist
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_inter_arrival_shuffles_once_on_user(spark, sf_dir):
    """events_inter_arrival: the lag window and the rollup both key
    on user_id — one shuffle, partitioning reused."""
    plan = plan_of(spark, "events_inter_arrival", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_hapax_combines_vocabulary_before_shuffle(spark, sf_dir):
    """text_hapax: the token stream must collapse to per-partition
    (source, word) counts map-side before riding the network."""
    plan = plan_of(spark, "text_hapax", sf_dir, mode="simple")
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_attribution_is_union_timeline_not_join(spark, sf_dir):
    """events_attribution must run as the join-free carry timeline
    (the join_asof rule): no join node of any kind, one user-keyed
    window."""
    plan = plan_of(spark, "events_attribution", sf_dir)
    assert "Join" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan


def test_survivors_verified_drop_list_broadcasts(spark, sf_dir):
    """The funnel endgame materializes survivors via a broadcast
    anti-join of the tiny drop list — the corpus never shuffles to
    delete its duplicates — and the pair space stays bucketed (no
    cartesian anywhere in the funnel)."""
    plan = plan_of(spark, "dedup_survivors_verified", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_survivors_verified_build_counts_no_drop_list(spark, sf_dir):
    """Building dedup_survivors_verified with its session-cache
    artifacts warm runs only the connected components' one job (the
    collect of the verified edges that feeds the union-find): the
    planner picks the anti-join strategy, so no action counts the
    drop list first (that count was 2 more jobs under AQE). Jobs are
    counted per job group, as ``bench.sweep`` counts them."""
    from perfbench import harness

    build = CATALOG["dedup_survivors_verified"].builder
    build(spark, sf_dir)
    group = "test/dedup_survivors_verified/build"
    harness.timed_call(spark, group, build, spark, sf_dir)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, f"{len(jobs)} jobs"


def test_cooccurrence_singles_broadcast_onto_pairs(spark, sf_dir):
    """events_cooccurrence: the type-count and total-session tables
    are cardinality-sized — they must reach the pair table as
    broadcasts; the only big joins key on the session."""
    plan = plan_of(spark, "events_cooccurrence", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("name", ["scan_profile", "docs_corpus_card"])
def test_profile_distincts_stay_exact(spark, sf_dir, name):
    """The profiling keys count distincts exactly (the oracle needs
    the true values; ``agg_approx_distinct`` is the HLL key). Since
    r13 each of scan_profile's exact distincts is its OWN single-
    column branch (concurrent, narrow) — never Catalyst's Expand
    rewrite that replicates every input row once per distinct column
    through one aggregate."""
    plan = plan_of(spark, name, sf_dir)
    assert "approx_count_distinct" not in plan
    if name == "scan_profile":
        assert "Expand" not in plan
        assert plan.count("count(distinct") >= 3


def test_lsh_band_stats_is_pure_aggregation(spark, sf_dir):
    """The LSH tuning gauge must never touch the pair space it
    predicts: no join of any kind — one explode chain into two
    aggregations (bucket sizes, then per-band rollup) with map-side
    partial aggregation before each exchange."""
    plan = plan_of(spark, "lsh_band_stats", sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_docs_source_profile_has_no_explode(spark, sf_dir):
    """The corpus card computes per-doc token counts as a narrow
    higher-order-function projection — no Generate (explode) node,
    one corpus scan, and text never rides the exchange (the shuffle
    carries source/lang/digest/ints only)."""
    plan = plan_of(spark, "docs_source_profile", sf_dir)
    assert "Generate" not in plan
    assert plan.count("(1) Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_mixture_plan_windows_run_on_aggregated_rows(spark, sf_dir):
    """corpus_mixture_plan: the corpus-sized work ends at the
    groupBy(source); the totals frame reaches the per-source rows as
    a broadcast (1-row nested-loop is the correct shape for a
    schema-less cross of aggregated rows), no explode anywhere, and
    the unpartitioned windows sit above the aggregation, not the
    corpus."""
    plan = plan_of(spark, "corpus_mixture_plan", sf_dir)
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the windows must consume the aggregated source table, never the
    # corpus: formatted-plan node ids grow leaf→root, so EVERY Window
    # node must sit above (higher id than) EVERY HashAggregate — a
    # window pushed below the groupBy(source) would run over the
    # corpus-sized scan and show a smaller id than the final agg
    import re

    ids = {
        kind: [int(m.group(1)) for m in re.finditer(rf"\((\d+)\) {kind}", plan)]
        for kind in ("Window", "HashAggregate")
    }
    assert ids["Window"] and ids["HashAggregate"]
    assert min(ids["Window"]) > max(ids["HashAggregate"])


def test_vocab_coverage_topk_is_heap_not_global_sort(spark, sf_dir):
    """text_vocab_coverage selects its top-1000 vocabulary with
    TakeOrderedAndProject (per-partition k-heap) — the full
    vocabulary must never be globally sorted, and the cumsum window
    runs over the ≤1000 survivors only."""
    plan = plan_of(spark, "text_vocab_coverage", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_prefix_is_narrow_digest_groupby(spark, sf_dir):
    """dedup_prefix fingerprints with a narrow slice/concat
    projection: no Generate (explode) node, one scan, and map-side
    partial aggregation before the digest shuffle — text never
    rides the exchange."""
    plan = plan_of(spark, "dedup_prefix", sf_dir)
    assert "Generate" not in plan
    assert plan.count("(1) Scan parquet") == 1
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_bucket_purity_is_jvm_side_count_aggregation(spark, sf_dir):
    """embed_bucket_purity must never ship vectors anywhere: the
    bucket key is a pure JVM expression, embeddings collapse to
    (bucket, label) counts map-side (partial aggregation before the
    exchange), the windows partition BY BUCKET over those count rows,
    and — unlike the ANN operator it diagnoses — no Python worker is
    involved at all."""
    plan = plan_of(spark, "embed_bucket_purity", sf_dir)
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    # the exchange feeding the windows carries counts, not vectors
    assert "Window" in plan


def test_agg_count_histogram_pushdown_and_partial_agg(spark, sf_dir):
    # Q13 shape: the priority predicate must reach the orders scan,
    # and the per-customer count must combine map-side so only
    # (custkey, partial-count) rows ride the first Exchange.
    plan = plan_of(spark, "agg_count_histogram", sf_dir)
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    assert "partial_count" in plan
    # the shuffle for the per-customer count is keyed on c_custkey;
    # the partial-count detail node precedes it in the plan details
    # ("Exchange" alone would match the early BroadcastExchange)
    assert "hashpartitioning(c_custkey" in plan
    assert plan.index("partial_count") < plan.index("hashpartitioning(c_custkey")
    assert "CartesianProduct" not in plan


def test_embed_dim_stats_combines_before_shuffle(spark, sf_dir):
    # the per-dim aggregation must combine map-side: only 64 partial
    # rows per partition ride the Exchange, never exploded values —
    # and the vectors themselves never shuffle (no Python worker).
    plan = plan_of(spark, "embed_dim_stats", sf_dir)
    assert "partial_count" in plan or "partial_avg" in plan
    assert "hashpartitioning(dim" in plan
    assert plan.index("partial_") < plan.index("hashpartitioning(dim")
    for worker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert worker not in plan


def test_mixture_apply_broadcasts_fraction_table(spark, sf_dir):
    """corpus_mixture_apply: the per-source fraction table (one row
    per source) must broadcast back onto the corpus — the corpus
    never shuffles for the join — and the audit aggregation combines
    map-side before its Exchange."""
    plan = plan_of(spark, "corpus_mixture_apply", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_correlated_scalar_is_decorrelated_join(spark, sf_dir):
    """agg_correlated_scalar: the Q17 threshold table must join back
    on the partkey (no per-row subquery — exactly one aggregate over
    lineitem feeding a keyed join), with the part dimension
    broadcast and map-side combine on the threshold aggregation."""
    plan = plan_of(spark, "agg_correlated_scalar", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_avg" in plan


def test_pipeline_mixture_manifest_composes_without_new_shuffles(spark, sf_dir):
    """The clean→plan→select composition must stay one fused plan:
    the fraction table broadcasts back onto the cleaned corpus (no
    corpus re-shuffle for the mixture join), dedup stays a window,
    nothing drops to Python, and the mixture windows run AFTER
    aggregation (their input is one row per source)."""
    plan = plan_of(spark, "pipeline_mixture_manifest", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan                    # decontamination survives
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join is allowed: the 1-row water-filling
    # totals frame broadcast onto the per-source aggregate (the
    # corpus_mixture_plan cross-join idiom) — never a corpus-sized one
    # (tree-line form: the node also reappears in the details section)
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") <= 1
    assert "BatchEvalPython" not in plan


def test_key_skew_topk_is_heap_not_global_sort(spark, sf_dir):
    """agg_key_skew: the top-K heaviest keys must come from a
    TakeOrderedAndProject heap over the per-key aggregate — the
    per-key table is never globally sorted — and the per-key count
    combines map-side."""
    plan = plan_of(spark, "agg_key_skew", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


# --- subquery/decorrelation shapes (operators/subqueries.py) --------


def test_disjunctive_join_pushes_per_side_ors(spark, sf_dir):
    """join_disjunctive: Catalyst must extract the common equi-key and
    push each side's OR projection down to its scan — quantity bands
    to lineitem, brand/size bands to part — and the dimension side
    must broadcast."""
    plan = plan_of(spark, "join_disjunctive", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # pushed lineitem-side disjunction (any quantity band reaching the scan)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    # pushed part-side disjunction
    assert "EqualTo(p_brand,Brand#11)" in plan


def test_exists_chain_is_one_fact_shuffle_window(spark, sf_dir):
    """join_exists_chain (r13 optimization): both correlated EXISTS
    predicates are order-partitioned window algebra — the fact table
    shuffles ONCE on l_orderkey (the old semi/anti chain shuffled or
    broadcast it three times), the (order, supplier) window reuses
    the order partitioning, and only the supplier dimension
    broadcasts. Never a nested-loop/cartesian pair enumeration."""
    plan = plan_of(spark, "join_exists_chain", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1
    assert "Window" in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_share_reuses_perkey_aggregate_stage(spark, sf_dir):
    """agg_global_share: the per-part aggregate feeds both the filter
    probe and the 1-row global total; AQE must serve the second
    consumer from a reused exchange stage, not a second lineitem
    scan+aggregate."""
    df = CATALOG["agg_global_share"].builder(spark, sf_dir)
    df.collect()
    assert "ReusedExchange" in executed_plan(df)


def test_groupagg_in_combines_mapside_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, "join_groupagg_in", sf_dir)
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_anti_scalar_pushes_date_filter(spark, sf_dir):
    """join_anti_scalar: the recent-orders side of the anti-join must
    push its date cutoff to the orders scan."""
    plan = plan_of(spark, "join_anti_scalar", sf_dir)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan


def test_bpe_pairs_single_scan_topk_heap(spark, sf_dir):
    """text_bpe_pairs: ONE corpus scan reading only the text column;
    pair expansion over the vocabulary; top-K via TakeOrdered heap."""
    df = CATALOG["text_bpe_pairs"].builder(spark, sf_dir)
    plan = plan_text(df, "simple")
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "struct<text:string>" in plan


def test_pagerank_iterations_broadcast_node_tables(spark, sf_dir):
    """graph_pagerank: rank/contribution tables are node-sized and
    must BROADCAST onto the checkpointed edges each iteration — the
    edge list never re-derives from lineitem (no parquet scan in the
    plan: edges are a localCheckpoint), and no iteration falls back
    to a sort-merge join."""
    plan = plan_of(spark, "graph_pagerank", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3  # one per iteration
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan  # edges pinned, never re-read
    assert "TakeOrderedAndProject" in plan  # top-20 heap, no global sort


def test_knn_triangles_joins_stay_on_checkpointed_edges(spark, sf_dir):
    """graph_knn_triangles: after the kNN table is pinned, the
    triangle enumeration must not re-run the GEMM (no InMemory/
    python stage in the plan — the mutual edge table is a
    localCheckpoint) and the 1-row cardinality frames combine via
    broadcast nested-loop cross joins only."""
    plan = plan_of(spark, "graph_knn_triangles", sf_dir)
    assert "MapInPandas" not in plan  # GEMM ran once at build, pinned
    assert "CartesianProduct" not in plan


def test_top_revenue_pushes_date_window_and_broadcasts_max(spark, sf_dir):
    plan = plan_of(spark, "agg_top_revenue", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "LessThan(l_shipdate,1996-04-01" in plan
    assert "partial_sum" in plan  # map-side combine of cents
    assert "CartesianProduct" not in plan  # 1-row max is BNL-broadcast


def test_nested_semi_is_semi_chain_with_pushed_part_filter(spark, sf_dir):
    plan = plan_of(spark, "join_nested_semi", sf_dir)
    assert plan.count("LeftSemi") >= 2  # part-class level + supplier level
    assert "LessThanOrEqual(p_size,10)" in plan
    assert "CartesianProduct" not in plan


def test_chunk_overlap_is_generate_only_no_shuffle(spark, sf_dir):
    """text_chunk_overlap: scan → project → generate. The ONLY
    allowed exchange is load_spread's round-robin spread of a
    narrow scan; there must be no keyed exchange, no join, no
    aggregate."""
    plan = plan_of(spark, "text_chunk_overlap", sf_dir)
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Generate" in plan  # per-chunk explode
    rs = read_schema_line(CATALOG["text_chunk_overlap"].builder(spark, sf_dir))
    assert "lang" not in rs and "source" not in rs  # column pruning


def test_quantize_error_is_pure_projection(spark, sf_dir):
    plan = plan_of(spark, "embed_quantize_error", sf_dir)
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "MapInPandas" not in plan  # JVM-side folds, no Python
    rs = read_schema_line(CATALOG["embed_quantize_error"].builder(spark, sf_dir))
    assert "label" not in rs  # column pruning


def test_threshold_sweep_never_goes_all_pairs(spark, sf_dir):
    """dedup_threshold_sweep shares the verified-funnel plan shape:
    bucketed LSH candidates, no cartesian product anywhere, and the
    cumulative window runs over the ≤10-row band table."""
    plan = plan_of(spark, "dedup_threshold_sweep", sf_dir)
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_ohlc_is_single_pass_hash_aggregate(spark, sf_dir):
    """events_ohlc: one projection + one SortAggregate with map-side
    combine — the argmin/argmax open/close must ride the same pass
    (no window sort, no join back)."""
    plan = plan_of(spark, "events_ohlc", sf_dir)
    assert "partial_min" in plan and "partial_max" in plan
    # struct-state min/max buffers force SortAggregate (same shape as
    # agg_minmax_by); the partial/final split across ONE exchange is
    # what matters
    assert plan.count("Aggregate") >= 2
    assert plan.count("hashpartitioning") == 1  # the ONE keyed exchange
    assert "Window" not in plan
    assert "Join" not in plan


def test_drop_explain_blocklist_broadcasts_no_python(spark, sf_dir):
    """pipeline_drop_explain: the eval-digest blocklist reaches the
    corpus as a broadcast (never a shuffled join of the big side for
    a megabytes-sized digest set), the keeper pick is ONE window, and
    no Python ever touches the row path."""
    plan = plan_of(spark, "pipeline_drop_explain", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Window") == 1


def test_jsonl_quarantine_single_parse_partial_agg(spark, sf_dir):
    """One JSON scan (explicit contract schema, column-pruned), one
    map-side-combined aggregation, ONE tiny exchange — the census
    must never re-parse or shuffle raw lines."""
    # simple mode prints each node once (formatted repeats every
    # node in its detail section, double-counting scans)
    plan = plan_of(spark, "jsonl_quarantine", sf_dir, mode="simple")
    assert plan.count("Scan json") == 1  # single parse, single consumer
    assert "partial_count" in plan_of(spark, "jsonl_quarantine", sf_dir)
    assert plan.count("Exchange") == 1
    read_schema = read_schema_line(
        CATALOG["jsonl_quarantine"].builder(spark, sf_dir)
    )
    assert "source" not in read_schema  # unused field pruned from the parse


def test_payload_stats_no_shuffle_no_meta_over_arrow(spark, sf_dir):
    """Binary bytes must never reach a shuffle, and unused columns
    must not ride the Arrow transfer into the Python worker
    (mapInPandas ships every input column — pruning is upstream)."""
    df = CATALOG["multimodal_payload_stats"].builder(spark, sf_dir)
    plan = plan_text(df, "formatted")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # fully narrow pipeline
    assert "media_meta" not in plan  # pruned before the kernel
    assert "n_chars" not in read_schema_line(df)  # pruned from the scan


def test_q7_nation_broadcasts_twice_no_cartesian(spark, sf_dir):
    """join_volume_shipping (Q7 shape): the nation dimension must
    appear as TWO independent broadcast builds (supplier-side and
    customer-side aliases), the plan must contain no cartesian
    product, and the final rollup must combine map-side."""
    plan = plan_of(spark, "join_volume_shipping", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2  # n1 and n2 at minimum
    assert "partial_count" in plan or "partial_sum" in plan


def test_multimodal_codec_keys_have_no_shuffle(spark, sf_dir):
    """The codec legs are narrow Arrow pipelines: encode kernel →
    decode kernel with NO exchange anywhere — payload bytes must
    never ride a shuffle."""
    for key in (
        "multimodal_decode_stats",
        "multimodal_audio_stats",
        "multimodal_frame_index",
        "multimodal_resize_plan",
    ):
        plan = plan_of(spark, key, sf_dir)
        assert "Exchange" not in plan, f"{key} shuffles payload-stage rows"


def test_unpivot_is_single_scan_expand_no_shuffle(spark, sf_dir):
    """The melt must run as ONE scan + Expand (the ANSI UNION-ALL
    twin would rescan lineitem 4x), and it is a narrow map — no
    exchange anywhere."""
    plan = plan_of(spark, "unpivot_long", sf_dir, mode="simple")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


def test_lateral_topk_decorrelates_to_window_not_nested_loop(spark, sf_dir):
    """The correlated LATERAL + LIMIT must decorrelate to the
    topk_per_group shape (equi-join + per-key window), never a
    nested loop re-running the subquery per outer row."""
    plan = plan_of(spark, "join_lateral_topk", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_peak_concurrency_single_shuffle_no_join(spark, sf_dir):
    """The sweep-line is union + delta-aggregate + two windows, all
    riding ONE event_type exchange (prefix partitioning)."""
    plan = plan_of(spark, "events_peak_concurrency", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q3_is_take_ordered_with_pushed_date_filters(spark, sf_dir):
    """Q3: top-10 must be TakeOrderedAndProject (no global sort
    materializes) and BOTH fact scans carry their date predicate."""
    plan = plan_of(spark, "join_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_q6_is_one_stage_all_predicates_pushed(spark, sf_dir):
    """Q6 exists to prove the fast path: zero joins, no wide
    exchange, and every predicate reaches the parquet scan."""
    plan = plan_of(spark, "agg_forecast_revenue", sf_dir)
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


@pytest.mark.parametrize(
    "name", ["join_local_supplier", "join_market_share", "join_returned_items"]
)
def test_tpch_report_joins_broadcast_dims_no_cartesian(spark, sf_dir, name):
    """Q5/Q8/Q10: dimensions must reach the fact as broadcasts and
    nothing may fall back to a nested loop."""
    plan = plan_of(spark, name, sf_dir, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_census_is_narrow_map_plus_one_aggregate(spark, sf_dir):
    """The scrub is codegen'd regex per row; only the |sources|-row
    census shuffles."""
    plan = plan_of(spark, "text_pii_census", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_late_shipments_filter_pushed_equi_join_only(spark, sf_dir):
    """Q12 variant: the ship-year predicate must reach the lineitem
    scan, and the fact-fact join must be an equi hash join (broadcast
    at small SF, shuffled-hash/SMJ under AQE at scale) — never a
    nested loop over the interval CASE."""
    plan = plan_of(spark, "join_late_shipments", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nation_profit_part_filter_cuts_fact_first(spark, sf_dir):
    """Q9 variant: the p_name pattern must be pushed into the part
    scan and the filtered part dim must broadcast into lineitem —
    the most selective cut runs first."""
    plan = plan_of(spark, "agg_nation_profit", sf_dir)
    assert "StringContains(p_name,red)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_supplier_part_count_distinct_is_partial_then_final(spark, sf_dir):
    """Q16 variant: the pair-distinct must run map-side partial before
    its exchange; exclusion is a broadcast anti-join; the part-bucket
    filter reaches the part scan (size IN-list pushed)."""
    plan = plan_of(spark, "join_supplier_part_count", sf_dir)
    assert "In(p_size, [1,14,23,45])" in plan or "In(p_size" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # distinct + final count-distinct: at least two partial HashAggregates
    assert plan.count("HashAggregate") >= 4


def test_quantile_cont_one_exchange_serves_windows_and_agg(spark, sf_dir):
    """Continuous quantiles: the group-key exchange must be shared by
    both window functions AND the final aggregation (they partition
    on the same key) — one shuffle total, like the discrete twin."""
    plan = plan_of(spark, "agg_quantile_cont", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan


def test_interval_overlap_is_binned_equi_join_no_dedup(spark, sf_dir):
    """Interval×interval overlap must run as a (user, bin) hash join
    — never a nested loop over the pair space — and the
    overlap-start-bin rule must remove the pair-dedup aggregate (no
    distinct between the join and the final user rollup)."""
    plan = plan_of(spark, "join_interval_overlap", sf_dir, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one join + the final rollup's two-phase agg; a dedup pass would
    # add a third keyed exchange
    assert plan.count("Exchange hashpartitioning") <= 3


def test_mrl_card_is_narrow_scan_one_small_aggregate(spark, sf_dir):
    """The matryoshka truncation card is per-row integer folds plus a
    |Ks|-row rollup: no join, no Python worker, exactly one keyed
    exchange (carrying 3 rows per partition)."""
    plan = plan_of(spark, "embed_mrl_error", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_partition_prune_is_partition_filter_not_data_filter(spark, sf_dir):
    """The lang predicate over the hive layout must become a
    PartitionFilter (directories never listed), not a data-side
    PushedFilter, and the partition column must not be read as data."""
    plan = plan_of(spark, "scan_partition_prune", sf_dir)
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert "(lang" in plan.split("PartitionFilters:")[1].splitlines()[0]
    read_schema = read_schema_line(
        CATALOG["scan_partition_prune"].builder(spark, sf_dir)
    )
    assert "lang" not in read_schema


def test_asof_nearest_is_one_exchange_no_join(spark, sf_dir):
    """The nearest as-of must plan like its backward/forward siblings:
    union timeline, NO join node, one user-keyed exchange feeding the
    dual-frame carries (Spark merges both frames into one Window)."""
    plan = plan_of(spark, "join_asof_nearest", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_gap_fill_is_left_edge_explode_not_span_join(spark, sf_dir):
    """Calendar densification must fill gaps from the left edge (lead
    + posexplode) with ONE user-keyed exchange serving both the daily
    aggregate and the window — never the span/generate_series/LEFT
    JOIN shape the oracle uses."""
    plan = plan_of(spark, "events_gap_fill", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Generate" in plan  # the sequence explode is the filler


@pytest.mark.parametrize("name", ["win_rolling_median", "win_cum_distinct"])
def test_rolling_windows_one_exchange_no_join(spark, sf_dir, name):
    """Rolling median (bounded-frame collect) and cumulative distinct
    (first-occurrence flag + running sum) must each ride ONE
    user-keyed exchange — the flagger window's (user, type) keys are
    co-located by the user hash — with no join and no Python."""
    plan = plan_of(spark, name, sf_dir, mode="simple")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pq_codebook_broadcasts_no_python(spark, sf_dir):
    """PQ assignment: the M*K codebook must broadcast onto the
    exploded subvectors; distances are integer folds (no Python
    worker); the argmin + rollup are the only keyed exchanges."""
    plan = plan_of(spark, "embed_pq_codes", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


# --- round-8 growth keys -------------------------------------------------


def test_weighted_hash_is_narrow_map_one_aggregate(spark, sf_dir):
    """No shuffle before the census; no join; the md5 predicate is a
    pure projection. (simple mode: each node printed once.)"""
    plan = plan_of(spark, "sample_weighted_hash", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1  # the census aggregate only
    assert "partial_count" in plan_of(spark, "sample_weighted_hash", sf_dir)


def test_outlier_census_second_pass_is_narrow_map(spark, sf_dir):
    """Pass 2 (z-scores vs driver-embedded literals) must be a pure
    narrow map + one census aggregate: no join, no Python in the
    returned plan (pass 1's Arrow fold runs eagerly at build time),
    exactly one exchange."""
    plan = plan_of(spark, "embed_outlier_census", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "MapInPandas" not in plan  # pass 2 is JVM-only
    assert plan.count("Exchange") == 1


def test_multitable_is_two_bucket_gemms_no_cartesian(spark, sf_dir):
    """Two independent bucket-keyed FlatMapGroups (one per hyperplane
    table), no cartesian; the combine is a WindowGroupLimit (per-
    partition top-1 heap below the final query-keyed exchange)."""
    plan = plan_of(spark, "sim_ann_multitable", sf_dir, mode="simple")
    assert plan.count("FlatMapGroupsInPandas") == 2
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_source_drift_grid_broadcasts_small_sides(spark, sf_dir):
    """The |sources|x|vocab| grid joins broadcast the bounded sides;
    no cartesian anywhere (the sources x vocab cross join rides a
    broadcast of the |sources|-row side)."""
    plan = plan_of(spark, "text_source_drift", sf_dir, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_win_ema_one_exchange_no_join(spark, sf_dir):
    plan = plan_of(spark, "win_ema", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1  # the user-keyed window sort


def test_agg_mad_is_single_exchange_window_plan(spark, sf_dir):
    """agg_mad (r13 optimization): both median passes, the deviation
    projection and the final per-group cut all key on
    o_orderpriority, so the whole statistic is ONE exchange — the
    rank windows, the second in-partition re-sort and the final
    groupBy all reuse it; no join, no broadcast round trip."""
    plan = plan_of(spark, "agg_mad", sf_dir, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_avro_census_decode_is_single_pass(spark, sf_dir):
    """Spark's Avro reader feeds the census aggregate directly: one
    Avro FileScan, no Python decode node, no join."""
    plan = plan_of(spark, "avro_census", sf_dir, mode="simple")
    assert plan.count("FileScan avro") == 1
    assert "Python" not in plan and "InPandas" not in plan
    assert "Join" not in plan


def test_point_in_time_is_union_timeline_no_join(spark, sf_dir):
    """The PIT join must ride join_asof's union-timeline plan: no
    join node, one user-keyed exchange, version shards filtered at
    the scans (pushed predicates on custkey/user_id)."""
    plan = plan_of(spark, "join_point_in_time", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + version rank
    assert "PushedFilters" in plan_of(spark, "join_point_in_time", sf_dir)


def test_approx_bound_sketch_is_own_branch(spark, sf_dir):
    """r13: the HLL sketch runs as its OWN concurrent branch with one
    buffer per GROUP — fused with the distinct aggregate, Catalyst
    keys the partial aggregate on (group, value) and materializes a
    sketch per PAIR (measured 1.57 → 0.59 s split at sf0.1). The
    group-count-sized sketch table broadcasts back; the pair space is
    never joined."""
    plan = plan_of(spark, "agg_approx_distinct_bound", sf_dir, mode="simple")
    assert plan.count("Scan parquet") == 2
    assert "approx_count_distinct" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_schema_merge_census_is_one_scan_one_aggregate(spark, sf_dir):
    plan = plan_of(spark, "scan_schema_merge", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_moments_one_scan_one_aggregate(spark, sf_dir):
    """Five integer power sums ride ONE map-side-combining aggregate
    over one scan — never a pass per moment."""
    plan = plan_of(spark, "agg_moments", sf_dir, mode="simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan_of(spark, "agg_moments", sf_dir)


def test_burst_detect_one_type_exchange(spark, sf_dir):
    """Tumbling count collapses map-side; ONE type-keyed exchange
    serves the trailing window. No join."""
    plan = plan_of(spark, "events_burst_detect", sf_dir, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan_of(spark, "events_burst_detect", sf_dir)


def test_snapshot_diff_derives_chain_once(spark, sf_dir):
    """Both snapshots must FILTER the one checkpointed version chain
    — two scans of the checkpoint, never two windows over orders."""
    plan = plan_of(spark, "cdc_snapshot_diff", sf_dir, mode="simple")
    assert plan.count("Scan ExistingRDD") == 2  # the checkpoint, twice
    assert plan.count("Window") == 0  # chain derived before the plan


def test_funnel_timing_stage_quantiles_share_one_exchange(spark, sf_dir):
    """Both stage-gap quantile windows ride the stage partition key;
    the staged mins are user-keyed aggregates — no cartesian, and the
    gap table never exceeds one row per converting user."""
    plan = plan_of(spark, "events_funnel_timing", sf_dir, mode="simple")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan_of(spark, "events_funnel_timing", sf_dir)


def test_join_bucketed_has_zero_exchange_on_join_key(spark, sf_dir):
    """The co-located bucketed join's whole point: the SMJ consumes
    the bucketBy layout directly — no Exchange on either join key
    (the only allowed exchange is the final tiny priority rollup),
    both scans flagged as bucketed reads."""
    plan = plan_of(spark, "join_bucketed", sf_dir, mode="simple")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the rollup only
    fmt = plan_of(spark, "join_bucketed", sf_dir)
    assert "Bucketed: true" in fmt


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_recall",
        "dedup_cluster_histogram",
        "embed_centroid_drift",
        "events_markov_entropy",
        "agg_approx_quantile_bound",
    ],
)
def test_round9_operators_stay_bucketed_and_jvm_side(spark, sf_dir, name):
    """Round-9 growth block: no per-row Python outside the documented
    Arrow kernels, and no unkeyed pair join anywhere — the recall
    audit's pair space is the inverted index, the histogram rides the
    cached LSH candidates, the rest are aggregates/windows.
    (BroadcastNestedLoopJoin is NOT asserted absent: the histogram's
    singleton row combines two 1-row scalar aggregates via crossJoin,
    which compiles to a 1×1 BNL by construction — the same shape as
    the perplexity/tfidf scalar-N cross joins.)"""
    plan = plan_of(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_js_divergence_broadcasts_vocabulary(spark, sf_dir):
    """The corpus-sized tf table must receive the vocabulary table as
    a broadcast (the perplexity shape) — never shuffle for it."""
    plan = plan_of(spark, "text_js_divergence", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_tolerance_is_join_free(spark, sf_dir):
    """The staleness bound must stay a projection over the union-
    timeline carry — re-introducing a range join would fan out each
    event by its order history."""
    plan = plan_of(spark, "join_asof_tolerance", sf_dir, mode="simple")
    assert "Join" not in plan
    assert "Window" in plan


def test_ann_collapse_has_partial_window_group_limit(spark, sf_dir):
    """The per-identity collapse added for duplicate vec_ids must
    stay map-side-combining: Catalyst rewrites the rn=1 filter into
    WindowGroupLimit with a PARTIAL pass BEFORE the query_id
    exchange, so the shuffle carries at most one candidate per
    (partition, query_id) — not every per-bucket row. Two
    WindowGroupLimit nodes (partial below the exchange, final above)
    are the signature of that plan; losing the partial would ship
    the whole ANN output through the exchange at 100 TB."""
    for key in ("sim_ann_lsh", "sim_ann_ivf"):
        plan = plan_of(spark, key, sf_dir)
        assert plan.count("WindowGroupLimit") >= 2, key
        assert "CartesianProduct" not in plan, key


def test_absence_monitor_single_window_shuffle_broadcast_cutoff(
    spark, sf_dir
):
    """events_absence_monitor: ONE user-keyed Exchange feeds the lead
    window; the cutoff is a 1-row global aggregate joined back via a
    broadcast nested loop (the totals-frame idiom), never a
    CartesianProduct, and never a second corpus-sized shuffle."""
    plan = plan_of(spark, "events_absence_monitor", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cutoff frame
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Window" in plan


def test_join_stream_interval_is_equi_carried(spark, sf_dir):
    """The interval condition must ride the user_id equi key (hash or
    sort-merge join), never a nested loop over the pair space."""
    plan = plan_of(spark, "join_stream_interval", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_pivot_roundtrip_plan_shape(spark, sf_dir):
    """pivot(declared values) + unpivot: Spark's two-phase pivot
    aggregation — ONE corpus shuffle keyed (flag, status), then a
    regroup of the group-count-sized frame by flag — plus a narrow
    Expand for the melt. No distinct-discovery job, no third
    exchange, no shuffle for the unpivot."""
    plan = plan_of(spark, "pivot_roundtrip", sf_dir)
    assert "Expand" in plan
    assert plan.count("hashpartitioning(") == 2
    # the corpus shuffle carries both keys; the regroup only flag
    import re

    assert re.search(
        r"hashpartitioning\(l_returnflag#\d+, l_linestatus#\d+", plan
    )
    assert "CartesianProduct" not in plan


def test_broadcast_threshold_demotion_card(spark, sf_dir):
    """The broadcast-vs-shuffle decision CARD (VERDICT r9 #3): pins
    where the engine flips join strategy as the broadcast threshold
    crosses the dimension's size — the number an operator consults
    before sizing ``spark.sql.autoBroadcastJoinThreshold`` for a
    100 TB deployment. customer.parquet is ~7 KB at sf0.001 /
    ~308 KB at sf0.1: a 1 MB threshold broadcasts it, 1 byte forces
    the shuffle family, and -1 disables broadcast outright. The
    ``executedPlan`` (post-AQE) is inspected, so an AQE runtime
    re-plan that silently demoted/promoted would fail here."""
    from mapreducepy_spark.io import load
    from mapreducepy_spark.plans import plan_text

    def strategy(threshold: str) -> str:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            o = load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            )
            c = load(spark, sf_dir, "customer").select(
                "c_custkey", "c_name"
            )
            j = o.join(c, o.o_custkey == c.c_custkey)
            j.write.format("noop").mode("overwrite").save()  # run AQE
            plan = plan_text(j, "simple")
            if "BroadcastHashJoin" in plan:
                return "broadcast"
            if "SortMergeJoin" in plan or "ShuffledHashJoin" in plan:
                return "shuffle"
            return "other:" + plan.splitlines()[0]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert strategy("1MB") == "broadcast"
    assert strategy("1b") == "shuffle"
    assert strategy("-1") == "shuffle"


def test_heavy_hitters_sketch_plan_shape(spark, sf_dir):
    """text_heavy_hitters_bound: the sketch streams through a
    per-physical-partition Arrow kernel (MapInPandas — NOT the r10
    FlatMapGroupsInPandas shape, which materialized a whole
    (lang, shard) group per task; VERDICT r10 #2); no cartesian
    anywhere; the exact side keeps map-side partial aggregation."""
    plan = plan_of(spark, "text_heavy_hitters_bound", sf_dir)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_no_cartesian_or_row_udf_anywhere_in_catalog(spark, sf_dir):
    """Catalog-WIDE physical gates, every registered key:

    - no ``CartesianProduct`` — every pair-space operator must carry
      an equi/bin/bucket key (the only Cross joins allowed are
      broadcast nested loops over 1-row totals/quantizer frames,
      which plan as BroadcastNestedLoopJoin, not CartesianProduct);
    - no ``BatchEvalPython`` — row-at-a-time Python UDFs are banned
      from every registered plan (Python crosses the wire only as
      Arrow-batched pandas kernels: FlatMapGroupsInPandas /
      MapInPandas / ArrowEvalPython);
    - no PARTITION-LESS window over a data-sized frame (r12): a
      ``Window.orderBy`` with no ``partitionBy`` funnels its whole
      input through ONE task — every data-sized global ranking now
      rides the two-level distributed prefix (``operators.prefix``).
      The whitelist below names the keys whose window input is
      METADATA-sized by construction and therefore exempt:
      the mixture trio orders |sources| rows (a handful at any
      corpus), dedup_threshold_sweep orders the fixed threshold
      grid, text_vocab_coverage's window rides the top-1000 frame a
      TakeOrderedAndProject heap already reduced, and events_rfm is
      the documented aggregate-then-rank trade: its three-axis
      quartile chain swaps onto the SAME prefix machinery at extreme
      user cardinality (the single-axis form is what win_ntile runs)
      but costs ~25 stages of scheduling overhead at bench scale for
      a user-sized frame (12.4 s vs 0.5 s measured — r12 ledger).

    One loop instead of 226 parametrized tests: the failure message
    names every offender, and collection stays light."""
    partitionless_ok = {
        "corpus_mixture_plan",
        "corpus_mixture_apply",
        "pipeline_mixture_manifest",
        "dedup_threshold_sweep",
        "text_vocab_coverage",
        "events_rfm",
    }
    offenders: dict[str, list[str]] = {
        "cartesian": [],
        "row_udf": [],
        "partitionless_window": [],
    }
    for name, q in CATALOG.items():
        plan = plan_text(q.builder(spark, sf_dir), "simple")
        if "CartesianProduct" in plan:
            offenders["cartesian"].append(name)
        if "BatchEvalPython" in plan:
            offenders["row_udf"].append(name)
        if name not in partitionless_ok:
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
                first = m.group(1).split(",")[0]
                # a spec WITH partitions leads with a bare column; a
                # partition-less one leads with an order expression
                # (" ASC"/" DESC") or — unordered total frames — goes
                # straight to specifiedwindowframe (r12 review: the
                # order-only heuristic missed SUM(x) OVER ())
                if (
                    " ASC" in first
                    or " DESC" in first
                    or first.lstrip().startswith("specifiedwindowframe")
                ):
                    offenders["partitionless_window"].append(name)
                    break
    assert offenders == {
        "cartesian": [],
        "row_udf": [],
        "partitionless_window": [],
    }


def test_events_views_unconverted_is_anti_join_not_outer(spark, sf_dir):
    """The batch twin must plan as LEFT ANTI on the user_id equi key
    (drop-at-first-match), NOT as the left-outer + IsNull-filter
    formulation the streaming side uses — and never a cartesian
    (the interval bound is a post-join predicate, the equi key
    carries the join)."""
    plan = plan_of(spark, "events_views_unconverted", sf_dir)
    assert "LeftAnti" in plan
    assert "LeftOuter" not in plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_is_one_window_plus_partial_agg(spark, sf_dir):
    """The planner is a pure window-function plan: exactly one Window
    node over the directory key, map-side partial aggregation for the
    bin rollup, no join anywhere (a bin-packing loop smuggled in as a
    driver collect or a self-join would show here)."""
    plan = plan_of(spark, "compaction_plan", sf_dir)
    assert plan.count("Window") >= 1
    assert "Join" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_split_by_cluster_assignment_is_join_plus_tiny_agg(spark, sf_dir):
    """Past the session-cached cluster labels, the split assignment
    itself must be ONE doc->label equi join (broadcast at test scale
    — the labels table is pair-graph-sized) + a map-side-combined
    aggregate; no cartesian, no Python in the assignment path."""
    plan = plan_of(spark, "split_by_cluster", sf_dir)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_dedup_incremental_probes_delta_not_corpus(spark, sf_dir):
    """The incremental-dedup probe must restrict the LEFT side of the
    band join to the delta BEFORE pairing (work scales with the
    delta, not the corpus) and never go cartesian; the per-doc
    partner rollup keeps map-side partial aggregation. The
    delta-before-pairing property is pinned STRUCTURALLY on the
    optimized logical plan: the doc_id delta-restriction Inner join
    must sit INSIDE the band-signature Inner join's subtree (deeper
    indentation, printed after) — a regression that pairs the full
    corpus first and filters afterwards flips that nesting (code
    review r11: the old substring asserts were satisfied by the band
    join alone)."""
    plan = plan_of(spark, "dedup_incremental", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan

    logical = (
        CATALOG["dedup_incremental"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    band_line = docid_line = None
    for i, ln in enumerate(logical.splitlines()):
        if "Join Inner" in ln and "sig#" in ln and band_line is None:
            band_line = (i, len(ln) - len(ln.lstrip(" :+-")))
        elif (
            "Join Inner" in ln
            and "doc_id#" in ln
            and "sig#" not in ln
            and docid_line is None
        ):
            docid_line = (i, len(ln) - len(ln.lstrip(" :+-")))
    assert band_line is not None, "band-signature join missing"
    assert docid_line is not None, "delta doc_id restriction missing"
    assert docid_line[0] > band_line[0] and docid_line[1] > band_line[1], (
        "delta restriction is no longer nested under the band join: "
        f"{band_line} vs {docid_line}\n{logical[:2000]}"
    )


def test_range_partition_plan_distributed_prefix_sum(spark, sf_dir):
    """The planner touches the fact table via a map-side-combining
    key histogram; the prefix sum is the two-level distributed shape
    (VERDICT r11 #2): exactly ONE Window operator, PARTITIONED BY the
    shard id — no partition-less window anywhere, so no task ever
    sees the whole distinct-key histogram. Shard-offset/total frames
    ride broadcast joins (constant-sized), never a sort-merge join
    or cartesian, and no Python anywhere."""
    plan = plan_of(spark, "range_partition_plan", sf_dir)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    simple = plan_text(
        CATALOG["range_partition_plan"].builder(spark, sf_dir), "simple"
    )
    # exactly one Window (the shard-local prefix pass) and it must be
    # partitioned: every windowspecdefinition names the pid column
    assert simple.count("Window ") == 1, simple
    specs = [ln for ln in simple.splitlines() if "windowspecdefinition" in ln]
    assert specs, simple
    for ln in specs:
        assert "pid#" in ln, f"partition-less window crept back in: {ln}"
    # the tiny frames stay broadcast: no SortMergeJoin in this plan
    assert "SortMergeJoin" not in simple, simple


def test_text_redact_is_shuffle_free_narrow_map(spark, sf_dir):
    """The scrub pass is embarrassingly parallel by construction: no
    aggregate, no join — the plan must carry ZERO Exchange and stay
    entirely inside whole-stage codegen (no Python anywhere)."""
    simple = plan_text(CATALOG["text_redact"].builder(spark, sf_dir), "simple")
    assert "Exchange" not in simple, simple
    assert "BatchEvalPython" not in simple
    # "*(n)" marks whole-stage-codegen stages in simple mode
    assert "*(1) Project" in simple, simple


def test_agg_delta_maintenance_merges_group_sized_frames(spark, sf_dir):
    """The maintenance merge is a full-outer of two GROUP-sized
    partial aggregates plus a comparison join — partial aggregation
    below every exchange, no cartesian, no Python."""
    plan = plan_of(spark, "agg_delta_maintenance", sf_dir)
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
