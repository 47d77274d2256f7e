"""Optimizer-property tests (SURVEY.md §4): assert the physical plans we
designed for, so a regression in pushdown/broadcast/vectorization fails
CI rather than silently costing 10× at scale.
"""

from __future__ import annotations

import pytest

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.plans.inspect import (
    count_nodes,
    executed_plan_string,
    has_node,
    plan_string,
    pushed_filters,
    read_schemas,
    unpartitioned_unbounded_windows,
    uses_row_python,
)

from conftest import SF_DIR

SPECS = registry.load_all()

# queries whose builders *execute* on call (streaming replay) — plan-only
# inspection would still run them; excluded here, covered by their own tests
_EXECUTING = {k for k in SPECS if k.startswith("stream_")}
# iterative builders call count() internally (components / list-rank /
# pregel), and snapshot queries materialize their store on first call
_ITERATIVE = {
    "wallet_components",
    "dedup_minhash",
    "topo_order",
    "pagerank",
    "bfs_distance",
    "triangle_count",
    "clustering_coefficient",
    "neighbor_jaccard",
    "graph_assortativity",
    "kcore_membership",
    "pagerank_exact",
    "personalized_pagerank_exact",
    "taint_flow_exact",
    "kmeans_exact",
    "snapshot_time_travel",
    "snapshot_reorg_overwrite",
    "sample_stratified",
    # round-8 builders that run a job on call (eager checkpoints /
    # components' driver-threshold count / LPA rounds / count-gated
    # broadcast hints)
    "hypertable_rollup",
    "record_linkage",
    "label_propagation",
    "text_surprisal",
    "join_skew_report",
    "tokenize_to_ids",
    "rolling_dau",
    "ktruss_edges",
    "community_modularity",
    "chi2_association",
    "split_drift_psi",
    "seasonality_profile",
    "cusum_drift",
    # round-9 builders that run a job on call (eager checkpoints /
    # scalar totals for PMI)
    "skipgram_pairs",
    "random_walk_sample",
    "target_encode",
    "dbscan_core",
    "dedup_embedding_cosine",
    # round-11: sampled-BFS centrality checkpoints per level on call
    "betweenness_approx",
    "closeness_approx",
    "edge_betweenness_approx",
    "gnn_neighbor_sample",  # _copurchase_pairs checkpoint+count on call
    "theil_sen_slope",  # eager pair-table checkpoint on call
    "influence_cascade",  # per-round frontier checkpoints + counts on call
    "node2vec_walk_sample",  # copurchase checkpoint + adjacency checkpoint on call
    "landmark_distances",  # rides the _seed_bfs memo (checkpoints on call)
    "join_bloom_runtime_filter",  # conf-scoped eager materialization on call
}

_PLAN_KEYS = sorted(set(SPECS) - _EXECUTING - _ITERATIVE)


def _df(name, spark):
    return SPECS[name].builder(spark, SF_DIR)


def test_scan_pushdown_and_pruning(spark):
    df = _df("scan_parquet", spark)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    schemas = read_schemas(df)
    # projection pruned to the 3 selected + 1 filter column
    assert all("l_extendedprice" not in s for s in schemas), schemas


def test_point_lookup_pushdown(spark):
    df = _df("filter_point", spark)
    assert any("o_orderkey" in f and "EqualTo" in f for f in pushed_filters(df))


def test_small_dim_join_broadcasts(spark):
    df = _df("join_inner", spark)
    assert has_node(df, "BroadcastHashJoin")


def test_semi_join_is_a_join_not_a_filter_loop(spark):
    df = _df("semi_join", spark)
    assert "LeftSemi" in plan_string(df)


def test_topk_per_group_rank_limit_pushdown(spark):
    df = _df("window_topk_per_group", spark)
    assert has_node(df, "WindowGroupLimit")


def test_global_topk_is_take_ordered(spark):
    df = _df("topk_global", spark)
    assert has_node(df, "TakeOrderedAndProject")


def test_agg_has_partial_final_split(spark):
    plan = plan_string(_df("agg_sum", spark))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_range_join_is_not_cartesian(spark):
    plan = plan_string(_df("join_range", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_active(spark):
    # codegen spans appear as "*(n)" operator prefixes in the final
    # (post-AQE) physical plan
    plan = executed_plan_string(_df("two_hop_join", spark))
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


@pytest.mark.parametrize("name", _PLAN_KEYS)
def test_no_row_at_a_time_python(name, spark):
    """UDF policy: Python only via Arrow (pandas_udf / mapInPandas) —
    never BatchEvalPython in any query plan."""
    assert not uses_row_python(_df(name, spark)), name


def test_unpivot_is_shuffle_free(spark):
    """Melt is a generator projection — any Exchange would mean we
    built it wrong."""
    plan = plan_string(_df("unpivot_stack", spark))
    assert "Exchange" not in plan, plan


def test_grouping_sets_single_expand(spark):
    """Three granularities must come from ONE Expand + one aggregation
    pass, not three scans."""
    df = _df("agg_grouping_sets", spark)
    assert count_nodes(df, "Expand") == 1, plan_string(df)


def test_window_ntile_single_window_node(spark):
    """NTILE/PERCENT_RANK/CUME_DIST share one window spec, so Catalyst
    must evaluate all three in a single Window operator (one sort)."""
    df = _df("window_ntile", spark)
    assert count_nodes(df, "Window") == 1, plan_string(df)


def test_asof_pandas_is_arrow_grouped(spark):
    """The pandas as-of join must run as Arrow grouped-map, not
    row-at-a-time Python."""
    plan = plan_string(_df("join_asof_pandas", spark))
    assert "FlatMapGroupsInPandas" in plan
    assert not uses_row_python(_df("join_asof_pandas", spark))


def test_tfidf_df_join_is_unhinted_and_aqe_broadcasts(spark):
    """The (term, df) scoring join carries NO explicit broadcast hint — a
    web-scale vocabulary is not broadcastable, so the decision belongs to
    AQE (round-1 verdict). At test scale AQE must still pick the
    broadcast from the measured exchange size."""
    df = _df("text_tfidf", spark)
    assert "ResolvedHint" not in plan_string(df, "extended")
    assert "BroadcastHashJoin" in executed_plan_string(df)


def test_hash_stratified_sample_rank_limit_pushdown(spark):
    """The deterministic sample's constant rn bound must compile to
    WindowGroupLimit (per-partition top-k before the shuffle)."""
    assert has_node(_df("sample_hash_stratified", spark), "WindowGroupLimit")


def test_triangle_count_shuffle_path_above_threshold(spark):
    """Above the broadcast threshold we must not FORCE a broadcast
    (round-1 scale-killer: unconditional hint) — no ResolvedHint in the
    logical plan; any remaining broadcast is Catalyst's own stats-based
    call (the array-built pairs keep size stats through the checkpoint,
    so at test scale it may still rightly pick one). Both paths must
    count the same triangles."""
    from blockchain2graphdb_spark.operators.graphops import triangle_count

    bcast = triangle_count(spark, SF_DIR)
    shuf = triangle_count(spark, SF_DIR, broadcast_edges_max=0)
    assert "ResolvedHint" not in plan_string(shuf, "extended")
    assert "ResolvedHint" in plan_string(bcast, "extended")
    assert bcast.collect() == shuf.collect()


def test_sample_hash_topk_rank_limit_pushdown(spark):
    """The X9 hash sample's rn<=k must compile to WindowGroupLimit so
    the exchange carries at most k rows per group."""
    assert has_node(_df("sample_hash_topk", spark), "WindowGroupLimit")


def test_sessionize_single_user_shuffle(spark):
    """Both window passes and the (user, session) aggregate must reuse
    ONE hashpartitioning(user_id) exchange — partitioning by user_id
    already clusters (user_id, session_idx)."""
    df = _df("sessionize_batch", spark)
    assert count_nodes(df, "Exchange") == 1, plan_string(df)


def test_contamination_and_funnel_never_pairwise(spark):
    for key in ("contamination_check", "funnel_conversion", "join_salted"):
        plan = plan_string(_df(key, spark))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_curation_pipeline_single_content_shuffle(spark):
    """The composite pass's content flows through exactly one shuffle
    (the md5 keeper window); the only other exchange feeds the tiny
    (split, status) aggregate."""
    df = _df("curation_pipeline", spark)
    assert count_nodes(df, "Window") == 1, plan_string(df)
    assert count_nodes(df, "Exchange") <= 2, plan_string(df)


def test_ngram_freq_topk_pushdown_and_no_python(spark):
    """The bigram build must stay inside vectorized array expressions
    (no BatchEvalPython) and the per-lang top-10 must compile to
    WindowGroupLimit."""
    df = _df("text_ngram_freq", spark)
    assert has_node(df, "WindowGroupLimit")
    assert not uses_row_python(df)


def test_keep_best_is_mergeable_hash_aggregate(spark):
    """Keep-best must be a partial/final HASH aggregate over ONE
    fingerprint exchange — no Window, no Sort anywhere: the packed
    bigint keeps max() hash-aggregable, so viral duplicate clusters
    combine map-side and never sort or concentrate."""
    df = _df("dedup_keep_best", spark)
    plan = plan_string(df)
    assert count_nodes(df, "Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert count_nodes(df, "SortAggregate") == 0, plan
    assert count_nodes(df, "Window") == 0, plan
    assert count_nodes(df, "Sort") == 0, plan


def test_similarity_range_candidate_side_shuffle_free(spark):
    """Radius search must broadcast the query side and stream candidates
    straight off the scan — zero shuffle Exchanges anywhere (the only
    exchange is the BroadcastExchange of the 20 query rows)."""
    df = _df("similarity_range", spark)
    plan = plan_string(df)
    assert count_nodes(df, "Exchange") == 0, plan
    assert "BroadcastExchange" in plan, plan


def test_event_transitions_two_keyed_exchanges(spark):
    """One user_id exchange feeds the lag window; the only other
    exchange is the tiny (prev,next) transition-matrix aggregate."""
    df = _df("event_transitions", spark)
    assert count_nodes(df, "Exchange") <= 2, plan_string(df)
    assert count_nodes(df, "Window") == 1, plan_string(df)


def test_pack_sequences_one_window_pass(spark):
    """Packing is one per-source running-sum window plus the per-bin
    aggregate — never a second sort or window over the corpus."""
    df = _df("pack_sequences", spark)
    assert count_nodes(df, "Window") == 1, plan_string(df)
    assert count_nodes(df, "Exchange") <= 2, plan_string(df)


@pytest.mark.parametrize("name", _PLAN_KEYS)
def test_no_unpartitioned_window_over_unbounded_input(name, spark):
    """The sort_by_key scale-killer class (VERDICT_r04 #1): an
    empty-partitionSpec WindowExec funnels its whole input through ONE
    partition. Allowed only over bounded inputs (below a Limit, or over
    aggregate summaries — e.g. cumulative offsets over per-month
    counts); anything else across the registry is a regression."""
    bad = unpartitioned_unbounded_windows(_df(name, spark))
    assert not bad, f"{name}: {bad}"


def test_sort_by_key_rank_is_distributed(spark):
    """Global rank = bucketed two-pass: the corpus-side window must be
    partitioned by bucket; the only global window sits over the tiny
    per-bucket count aggregate, joined back via broadcast."""
    df = _df("sort_by_key", spark)
    plan = plan_string(df)
    assert not unpartitioned_unbounded_windows(df), plan
    assert "BroadcastHashJoin" in plan, plan


def test_text_search_is_index_lookup_not_regex_scan(spark):
    """Keyword search must be postings aggregation + top-k — the term
    filter before the first aggregate, no regex over the corpus, and a
    TakeOrderedAndProject (never a global sort) for the rank cut."""
    df = _df("text_search", spark)
    plan = plan_string(df)
    assert "RLike" not in plan and "rlike" not in plan, plan
    assert has_node(df, "TakeOrderedAndProject"), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_phrase_search_is_positional_equi_join(spark):
    """Phrase match = equi-join of two shifted posting lists on
    (doc_id, pos) — a hash/merge join, never a nested-loop/cartesian
    scan of the corpus."""
    df = _df("text_phrase_search", spark)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_dedup_substring_never_pairwise(spark):
    """The substring-overlap pass must reach candidates via an anchor
    equi-join — a Cartesian/nested-loop pairwise scan would be the 100 TB
    scale-killer this design exists to avoid."""
    s = executed_plan_string(_df("dedup_substring", spark))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "HashJoin" in s or "SortMergeJoin" in s, s


def test_chunk_embed_retrieve_topk_is_group_limited(spark):
    """The RAG composite's per-query top-k must plan as WindowGroupLimit
    (rank cut pushed below the final sort), and the query side must be
    the broadcast side — the corpus is never shuffled for scoring."""
    s = executed_plan_string(_df("chunk_embed_retrieve", spark))
    assert "WindowGroupLimit" in s, s
    assert "BroadcastExchange" in s, s


def test_profile_table_single_scan(spark):
    """One profile = one scan + one aggregation (Expand-based
    multi-distinct), not one scan per column. The adaptive plan string
    prints the initial AND final plan, so take the final section only."""
    s = executed_plan_string(_df("profile_table", spark))
    final = s.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, s


def test_bpe_pairs_topk_is_take_ordered(spark):
    """Pair extraction runs over the distinct-word table and the top-k
    cut is TakeOrderedAndProject, never a global sort."""
    s = executed_plan_string(_df("bpe_merge_pairs", spark))
    final = s.split("Initial Plan")[0]
    assert "TakeOrderedAndProject" in final, s
    assert "Sort [" not in final, s  # no corpus-wide sort beside the top-k


def test_bloom_runtime_filter_injected_and_confs_restored(spark):
    """The runtime bloom semi-join reduction (J-family scale story #4):
    under the scoped confs the fact side must carry a
    bloom_filter might_contain probe and the join must NOT be
    broadcast; afterwards the two forced confs must be restored so no
    other key's plan sees them."""
    from blockchain2graphdb_spark.operators.relational import (
        _BLOOM_CONFS,
        _bloom_join,
        _with_bloom_confs,
    )

    before = {k: spark.conf.get(k) for k in _BLOOM_CONFS}

    def probe():
        df = _bloom_join(spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()

    plan = _with_bloom_confs(spark, probe)
    assert "might_contain" in plan or "mightContain" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    after = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    assert after == before
    # and the registered builder itself restores them too
    SPECS["join_bloom_runtime_filter"].builder(spark, SF_DIR)
    assert {k: spark.conf.get(k) for k in _BLOOM_CONFS} == before


def test_skew_aqe_split_plan_and_restore(spark):
    """AQE runtime skew-join splitting (J-family scale story #5): under
    the scoped confs the deliberately-hot fact partition must be
    detected from runtime shuffle-map sizes and SPLIT — the executed
    (AQE-final) plan carries SortMergeJoin(skew=true) and a skewed
    AQEShuffleRead on the fact side — and the forcing confs must be
    restored afterwards so no other key's plan sees them."""
    from blockchain2graphdb_spark.operators.relational import (
        _SKEW_AQE_CONFS,
        _skew_aqe_join,
        _with_skew_aqe_confs,
    )

    before = {k: spark.conf.get(k) for k in _SKEW_AQE_CONFS}

    def probe():
        df = _skew_aqe_join(spark, SF_DIR)
        # the AQE final plan exists only after THIS QueryExecution runs
        # (count() would spawn a separate one and leave it initial)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    plan = _with_skew_aqe_confs(spark, probe)
    final = plan.split("Initial Plan")[0]
    assert "isFinalPlan=true" in plan, plan
    assert "skew=true" in final, final
    assert "skewed" in final, final  # the AQEShuffleRead annotation
    assert "BroadcastHashJoin" not in final, final
    after = {k: spark.conf.get(k) for k in _SKEW_AQE_CONFS}
    assert after == before
    # and the registered builder itself restores them too
    SPECS["join_skew_aqe_split"].builder(spark, SF_DIR)
    assert {k: spark.conf.get(k) for k in _SKEW_AQE_CONFS} == before


def test_capture_plans_normalizes_session_tokens():
    """Captured plans drop expression ids, `plan_id=`, the lambda
    variables' process-wide counter and the checkout root, so one plan
    diffs clean between two checkouts and two sessions."""
    from blockchain2graphdb_spark.paths import REPO_ROOT
    from tools.capture_plans import normalize

    raw = (
        "lambdafunction((lambda x_1#3L * lambda y_2#4L), lambda x_1#3L, lambda y_2#4L)"
        f" [plan_id=7] InMemoryFileIndex [file:{REPO_ROOT}/.tmp/evpart_ab]"
    )
    assert normalize(raw) == (
        "lambdafunction((lambda x * lambda y), lambda x, lambda y)"
        " [] InMemoryFileIndex [file:<repo>/.tmp/evpart_ab]"
    )
