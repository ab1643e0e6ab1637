import pytest
"""Plan linter: no batch driver query may introduce a NEW
single-partition exchange (the whole-corpus-through-one-task trap this
repo engineers around everywhere — see splits._global_rank,
graph.relabel_nodes, similarity.ivf_topk).

The whitelist pins today's occurrences, all bounded by construction:
final single-row metric/max aggregations, the documented dim-table
window in p6, and the two-pass global ranks' window over the
n_buckets-row count table (32 rows, not the corpus).
"""

import contextlib
import io
import os
import re

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"
SKIP_PREFIXES = ("st",)  # streaming drains execute on call
SKIP = {
    # these train a model when called (expensive; their relation-id
    # windows are bounded and documented in operators/kge.py)
    "rec_kge_transe_top5",
    "rec_node2vec_top5",
    "rec_als_top5",
    # band checks train the corresponding model too
    "rec_node2vec_band",
    "rec_als_band",
    "rec_kge_transe_band",
    # sharded trainer: epoch-wise localCheckpoints sever the lineage,
    # so the final plan is opaque to the linter anyway (and it trains)
    "rec_kge_sharded_top5",
    "rec_kge_sharded_band",
    "rec_kge_sharded_complex_top5",
    "rec_kge_sharded_complex_band",
    # trains on call too: the batched BPE learner's per-round collects
    # and localCheckpoints execute during plan construction, and the
    # returned merge table is a local relation with no scan lineage
    "tx24_bpe_budget_audit",
}
ALLOWED = {
    "dq9_partition_plan": 1,   # final 1-row planner aggregate
    "dd18_dedup_savings": 1,   # final 1-row ROI rollup
    "a8_max_degree": 1,        # final 1-row max
    "e2_map_at_5": 1,          # final 1-row metric mean
    "e3_ndcg_at_5": 1,         # final 1-row metric mean
    "e4_mrr_at_5": 1,          # final 1-row metric mean
    "e5_hitrate_at_5": 1,      # final 1-row metric mean
    "e8_auc_at_5": 1,          # final 1-row metric mean
    # 2 final 1-row metric means (one per fold) + the popularity
    # candidate rank over the items-bounded pop table. (r08: the
    # two-pass ranks' bucket-count offsets are now window-free —
    # splits._global_rank — so the p6/sp1/sp3/sp6/g5/j3/tx11 entries
    # and e6's split share dropped to ZERO single-partition exchanges.)
    "e6_kfold_map_popularity": 2,
    "tx9_mixture_weights": 1,  # 1-row pow-sum normalizer over #sources rows
    "q6_forecast_revenue": 1,   # final 1-row global sum
    "ev10_funnel": 3,           # three final 1-row stage counts
    "e7_coverage_diversity": 3, # 1-row coverage + 1-row mean-ILD + their 1x1 join
    "dp3_forget_users": 3,      # three per-table 1-row deletion audits
    "q14_promo_share": 1,       # final 1-row ratio of conditional sums
    "q19_disjunctive_filter": 1,  # final 1-row global sum
    "tx15_bigram_logprob": 1,   # 1-row vocab-size normalizer (broadcast)
    "q15_top_supplier": 1,      # 1-row max-revenue scalar (broadcast back)
    "q17_small_quantity_revenue": 1,  # final 1-row revenue sum
    "q22_dormant_customers": 1, # 1-row avg-balance scalar (broadcast)
    "tx17_tfidf_keywords": 1,   # 1-row corpus-size scalar (broadcast)
    # corpus-max ts + exact quartile triple (two 1-row scalar aggs,
    # both broadcast) + their 1x1 combine
    "ev16_rfm_segments": 3,
    "q11_important_parts": 1,   # 1-row grand-total threshold (broadcast)
    "a16_distinct_users": 1,    # final 1-row overall-reach distinct
    # 1-row (n_exact, n_queries) scalar over the 64-query exact top-k,
    # broadcast onto the 4-row depth table
    "ss13_recall_curve": 1,
    "a20_heavy_hitters": 1,     # 1-row corpus-total scalar for the exact cutoff (broadcast)
    # 1-row catalog-count scalar (broadcast); dense_ids' bucket-count
    # offsets are window-free as of r08 (no 1P exchange from the rank)
    "sp11_negative_sampling": 1,
    "dp6_bpr_triples": 1,       # inherits sp11's bounded 1P
    # one 1-row profile aggregate per snapshot (k-column struct array,
    # exploded to the k-row report — both sides bounded by design)
    "dq5_profile_drift": 2,
    # ev10's three final 1-row stage counts; the conversion-rate lag
    # window rides the 3-row stage frame
    "ev30_funnel_window": 3,
    # 1-row (sum pw, sum tokens) normalizer over #sources rows —
    # tx9's shape; the budget frame it feeds is broadcast both times
    "tx21_token_budget_mix": 2,
    # the rank window over the <= top-row hot-key frame (bounded by
    # the `top` argument, never the data — diagnostics.key_skew_report)
    "dq6_key_skew_report": 1,
    # same shape: rank window over the <= top-row contribution frame
    "dq7_join_cardinality": 1,
    # the 1-row (min, max) scalar aggregate (broadcast back)
    "dq8_value_histogram": 1,
}


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _single_partition_count(plan: str) -> int:
    return sum(
        1
        for block in plan.split("\n\n")
        if re.match(r"\(\d+\) ", block) and "SinglePartition" in block
    )


def test_fold_lineages_share_cached_split_scan(spark):
    """SP6/E5 fold loop: every fold's train/test must be a lineage
    filter over the ONE persisted split DataFrame — never a re-read of
    the source parquet per fold (a k-fold run would otherwise re-scan
    the corpus k+1 times at 100 TB)."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import _ratings
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.experiment import _folds

    ratings = _ratings(spark, SF)
    _, pairs = _folds(ratings, {"seed": 42, "test": {"method": "k_fold", "k": 3, "level": "global"}})
    assert len(pairs) == 3
    try:
        for train, test in pairs:
            for df in (train, test):
                # explain prints the cached subtree UNDER InMemoryRelation;
                # a parquet scan is only legitimate inside that subtree.
                # Anything scanning parquet ABOVE the cache point means the
                # fold re-reads the source.
                tree = _formatted(df).split("\n\n")[0].splitlines()
                cache_at = next(
                    (i for i, ln in enumerate(tree) if "InMemoryRelation" in ln), None
                )
                assert cache_at is not None, "\n".join(tree)
                scans = [i for i, ln in enumerate(tree) if "Scan parquet" in ln]
                assert all(i > cache_at for i in scans), (
                    "fold lineage re-reads the source above the cached split:\n"
                    + "\n".join(tree)
                )
    finally:
        spark.catalog.clearCache()


@pytest.mark.slow
def test_no_unexpected_single_partition_exchanges(spark):
    # Some query BUILDERS cache/persist subtrees (shingle tables, split
    # frames); if an earlier test built those plans, Spark's cache
    # lookup substitutes InMemoryRelations whose statistics flip join
    # strategies and partition counts — the lint would then measure the
    # session's history, not the queries. Scan from a cold cache.
    spark.catalog.clearCache()
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        n = _single_partition_count(_formatted(fn(spark, SF)))
        if n > ALLOWED.get(name, 0):
            offenders[name] = (n, ALLOWED.get(name, 0))
    assert not offenders, f"new single-partition exchanges: {offenders}"


# Cartesian/nested-loop joins: every occurrence must have a BOUNDED
# broadcast side — a 1-row scalar aggregate, a bounded candidate/
# centroid table, or the documented fail-fast all-pairs — never a
# data-x-data product. Counts pinned per query (each logical join
# prints twice in `explain("formatted")`: tree line + detail block);
# any NEW occurrence fails the lint until justified here.
NLJ_ALLOWED = {
    # documented bounded all-pairs: dd6 fail-fasts above max_vectors
    "dd6_embedding_neardup": 2,
    # non-equi candidate joins whose broadcast side is a bounded
    # aggregate (per-user candidate arrays / global top-k candidate
    # table) — the recommend.py scoring contract
    "rec_popularity_top5": 2,
    "rec_fixed_emb_top5": 2,
    "rec_rrf_top5": 2,
    "e2_map_at_5": 2,
    "e3_ndcg_at_5": 2,
    "e4_mrr_at_5": 2,
    "e5_hitrate_at_5": 2,
    "e8_auc_at_5": 2,
    "e6_kfold_map_popularity": 4,   # two folds of the same shape
    "e7_coverage_diversity": 8,     # + 1-row scalar combines
    # ANN paths: probe x bounded centroid/codebook/query-sample tables
    "ss1_ann_cosine_topk": 2,
    "ss2_ann_ivf_topk": 4,
    "ss10_radius_search": 4,  # same two broadcast centroid-assign passes as ss2
    "ss11_filtered_search": 4,  # same two broadcast centroid-assign passes as ss2
    "ss6_hard_negatives": 2,
    "ss8_knn_join": 4,
    "ss9_incremental_index": 4,
    # recall contract: ss1's guarded brute-force parity scan (corpus x
    # broadcast 64-query slice) + ss2's two broadcast centroid-assign
    # passes — every non-equi side is the bounded query/centroid table
    "ss12_recall_report": 8,
    # ss12's shapes (parity scan + two broadcast centroid-assign
    # passes, 8) + the 1-row (n_exact, n_queries) scalar crossJoined
    # onto the 4-row depth table (2) — every non-equi side bounded
    "ss13_recall_curve": 10,
    # two broadcast centroid-assign passes against the bounded
    # centroid table (corpus + query sides) — the ss2 shape; the PQ
    # encode/dot joins are all equi
    "ss14_ivf_pq_topk": 4,
    # the `type_a < type_b` pair builder over the DISTINCT event-type
    # table: a #types x #types nested loop (5x5 here), never user rows
    "a21_overlap_sketch_band": 2,
    # fuzzy entity link: non-equi pattern-match against the bounded
    # broadcast label table (J7)
    "di2_entity_link": 2,
    # 1-row scalar aggregates broadcast back (thresholds/normalizers)
    "tx9_mixture_weights": 2,
    "tx15_bigram_logprob": 2,
    "tx17_tfidf_keywords": 2,
    "q11_important_parts": 2,
    "q22_dormant_customers": 2,
    "ev16_rfm_segments": 6,
    # 1-row corpus-total scalar broadcast back for the exact cutoff
    "a20_heavy_hitters": 2,
    # 1-row catalog-count scalar broadcast onto the proposal frame
    "sp11_negative_sampling": 2,
    "dp6_bpr_triples": 2,       # same scalar, via the sp11 stage
    # two 1-row crossJoins: variant A x variant B (the Welch pairing)
    # and the 1-row t-stat broadcast back onto the 2-row variant table
    "ev29_ab_ttest": 4,
    # the 1-row (sum pw, sum tokens) normalizer crossJoined onto the
    # #sources budget frame, which is consumed twice (selection join +
    # final report join) — tx9's scalar-broadcast shape, both bounded
    "tx21_token_budget_mix": 4,
    # the 1-row (n_rows, n_keys) scalar crossJoined onto the bounded
    # top-k hot-key frame
    "dq6_key_skew_report": 2,
    # the 1-row exact-total scalar crossJoined onto the bounded top-k
    # contribution frame
    "dq7_join_cardinality": 2,
    # the 1-row (min, max) scalar crossJoined onto the value stream
    "dq8_value_histogram": 2,
}


def _nlj_count(plan: str) -> int:
    return plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")


@pytest.mark.slow
def test_no_unexpected_cartesian_or_nested_loop_joins(spark):
    """At 100 TB a cartesian (or non-equi nested-loop) join of two
    data-sized inputs is a run-killer. The only tolerated shape is a
    1-row scalar aggregate broadcast back onto a frame (threshold
    ratios, corpus totals) — those are pinned in NLJ_ALLOWED with
    their reason; anything else, or any count increase, fails."""
    spark.catalog.clearCache()  # cold-cache scan — see the note above
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        n = _nlj_count(_formatted(fn(spark, SF)))
        if n > NLJ_ALLOWED.get(name, 0):
            offenders[name] = (n, NLJ_ALLOWED.get(name, 0))
    assert not offenders, f"new cartesian/nested-loop joins: {offenders}"


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """The session enables runtime bloom-filter semi-join pushdown
    (session.py): when a dim side carries a selective filter and the
    fact side is scan-heavy, Catalyst injects a might_contain probe
    into the fact scan so most fact rows die before the shuffle — at
    100 TB that's shuffling the match set instead of the corpus. The
    stock 10 GB application-side threshold keeps it off for tiny local
    scans, so the test lowers it to observe the injection."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
        o = spark.read.parquet(os.path.join(SF, "orders.parquet")).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in _formatted(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
