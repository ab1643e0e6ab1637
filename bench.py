#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs $SPARK_GRAFT_BENCH_REPEATS times (default 3) and the
recorded time is the per-query MEDIAN — this box's run-to-run noise is
±20-30%, which made single-shot round-over-round comparisons flag
phantom regressions (VERDICT r04 item 8). Set repeats=1 to reproduce
the old single-shot behavior.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q4_priority_exists",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_shipmode_priority",
    "q8_market_share",
    "q9_profit_proxy",
    "q11_important_parts",
    "q13_order_count_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_filter",
    "q20_promo_heavy_suppliers",
    "q21_waiting_supplier",
    "q22_dormant_customers",
    "a2_o1_user_rating_lists",
    "di2_entity_link",
    "o3_topk_per_group",
    "g8_triples",
    "g4_kcore_alternating",
    "sp2_random_user",
    "rec_popularity_top5",
    "rec_fixed_emb_top5",
    "rec_itemknn_top5",
    "rec_kgsim_top5",
    "e7_coverage_diversity",
    "e2_map_at_5",
    "e3_ndcg_at_5",
    "e4_mrr_at_5",
    "e5_hitrate_at_5",
    "dd3_minhash_signatures",
    "dd4_minhash_lsh_pairs",
    "dd12_simhash_pairs",
    "tx1_text_stats",
    "ss1_ann_cosine_topk",
    "ss5_pq_topk",
    "ss3_quantize_embeddings",
    "ss4_label_centroids",
    "mm1_image_stats",
    "mm3_media_features",
    "dd8_neardup_lsh",
    "dd10_canonical_keep",
    "dd11_incremental_dedup",
    "dd13_repeated_spans",
    "dd14_containment",
    "dd15_semantic_dedup",
    "dd9_decontaminate",
    "tx3_stratified_sample",
    "sp9_stratified_head",
    "tx4_scrub_pii",
    "tx5_repetition_stats",
    "tx6_unigram_logprob",
    "tx7_lang_confusion",
    "tx8_corpus_profile",
    "tx9_mixture_weights",
    "tx17_tfidf_keywords",
    "pk1_pack_sequences",
    "pk3_shuffle_shards",
    "ck1_chunk_documents",
    "ck2_sentence_chunks",
    "sp10_balanced_labels",
    "dp1_training_pipeline",
    "dp3_forget_users",
    "tx14_weighted_sample",
    "a15_value_percentiles",
    "a18_sketch_distinct_band",
    "a19_cube_profile",
    "a20_heavy_hitters",
    "ev17_quantile_sketch_band",
    "ev1_hourly_rollup",
    "ev2_sessionize",
    "ev3_sliding_rollup",
    "ev4_asof_enrich",
    "ev5_overlap_pairs",
    "ev6_point_in_span",
    "ev10_funnel",
    "ev11_retention",
    "ev12_scd2_intervals",
    "ev13_resample_fill",
    "ev14_transition_matrix",
    "ev16_rfm_segments",
    "ev18_gap_islands",
    "ev19_chi2_drift",
    "ev20_psi_band",
    "ev21_cusum_alarm",
    "ev22_seasonal_anomalies",
    "ev23_attribution",
    "ev24_rolling_reach",
    "a21_overlap_sketch_band",
    "g12_corating_motifs",
    "g13_kcore_incremental",
    "ss8_knn_join",
    "ss10_radius_search",
    "ss11_filtered_search",
    "ss12_recall_report",
    "ss13_recall_curve",
    "ss14_ivf_pq_topk",
    "tx18_bpe_tokenize",
    "tx19_bpe_encode_topv",
    "dq1_expectations",
    "dq2_snapshot_diff",
    "dq3_merge_upsert",
    "dq4_scd2_apply",
    "sp11_negative_sampling",
    "sp12_leave_one_out",
    "sp13_rolling_origin",
    "sp14_group_kfold",
    "dp6_bpr_triples",
    "dp7_semantic_pipeline",
    "j9_bloom_prefilter",
    "st1_stream_hourly_rollup",
    "st9_stream_static_enrich",
    "st11_stream_quality_gate",
    "st12_stream_mv_drift",
    "st13_stream_ann_ingest",
    "st14_index_staleness",
    "st15_stream_curation_e2e",
    "st16_curation_compaction",
    "st17_stream_windowed_quality",
    "st18_intra_drain_dedup",
    "dd16_winnowing",
    "ev25_asof_nearest",
    "g14_triangles",
    "sp15_purged_embargo",
    "dq5_profile_drift",
    "dp8_tokenize_pack_shard",
    "ev26_ohlc_downsample",
    "tx20_dup_span_audit",
    "ev27_decay_engagement",
    "ev28_locf_ttl",
    "g15_ra_link_prediction",
    "ev29_ab_ttest",
    "ev30_funnel_window",
    "tx21_token_budget_mix",
    "tx22_ngram_novelty",
    "dq6_key_skew_report",
    "dq7_join_cardinality",
    "dd17_minhash_calibration",
    "sp16_leakage_safe_split",
    "tx23_tokenizer_fertility",
    "dq8_value_histogram",
    "dq9_partition_plan",
    "dd18_dedup_savings",
    "tx24_bpe_budget_audit",
]


def main() -> None:
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.session import (
        codegen_compiles,
        get_spark,
    )
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import QUERIES

    spark = get_spark("bench")
    # JVM/codegen + parquet-reader warm-up so q1 doesn't pay one-time
    # startup costs (reads the smallest table once)
    spark.range(1000).count()
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    # Shared-fragment memo disclosure (VERDICT r14 item 9): queries
    # riding plans.driver_queries._MEMO (user split / popularity recs)
    # time differently depending on battery order — the first consumer
    # pays the persisted build, later ones read the cache. Print the
    # per-query memo build/hit deltas so every timing's attribution is
    # visible in the bench stderr instead of inferred from source.
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans import (
        driver_queries as _dq,
    )

    times: dict[str, float] = {}
    # Janino compiles per query: the first run's, then the later
    # repeats' — a warm repeat that compiles again missed the
    # generated-class cache (see session.get_spark)
    compiles: dict[str, list[int]] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        runs: list[float] = []
        n = -1
        memo0 = _dq.memo_stats()
        c0 = codegen_compiles(spark)
        for i in range(repeats):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            prev, n = n, df.count()
            runs.append(time.time() - t0)
            if i == 0:
                c1 = codegen_compiles(spark)
            # a timing sample of a query that returned a different row
            # count than its previous repeat is measuring a different
            # computation — fail loudly instead of medianing it in
            # (ADVICE r06; stochastic paths are not in HEADLINE)
            assert i == 0 or n == prev, (
                f"{name}: repeat {i} returned {n} rows vs {prev} before "
                "— nondeterministic query in the bench battery"
            )
        times[name] = round(statistics.median(runs), 3)
        compiles[name] = [c1 - c0, codegen_compiles(spark) - c1]
        detail = "/".join(f"{r:.2f}" for r in runs)
        memo1 = _dq.memo_stats()
        memo = ""
        if memo1 != memo0:
            memo = (
                f" memo_builds={memo1['builds'] - memo0['builds']}"
                f" memo_hits={memo1['hits'] - memo0['hits']}"
            )
        print(
            f"# {name}: median {times[name]}s of [{detail}] rows={n}"
            f" compiles={compiles[name][0]}+{compiles[name][1]}{memo}",
            file=sys.stderr,
        )
    # battery-end memo hygiene: unpersist + drop the shared fragments so
    # nothing persisted outlives the battery (VERDICT r14 item 9)
    _dq.clear_shared_memo()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "repeats": repeats,
    }
    spark.stop()
    # Per-query impl fingerprints (VERDICT r12 item 4): md5 of each
    # query function's source span plus an md5 per package module.
    # A time delta on a query whose fingerprint AND whose modules'
    # fingerprints are unchanged is box drift, mechanically — no more
    # arguing from git log whether st1's 3.5x was a regression.
    full = dict(out)
    full["query_src_md5"] = {
        name: _src_md5(QUERIES[name]) for name in HEADLINE
    }
    full["module_md5"] = _module_md5s()
    full["codegen_compiles"] = compiles
    here = os.path.dirname(os.path.abspath(__file__))
    # Commit anchoring (VERDICT r13 'what's wrong' 1): a fingerprint
    # that matches no committed tree can't separate box drift from code
    # change — stamp the git SHA + dirty flag so every history line
    # says exactly which tree produced it (and whether that tree was
    # fully committed at the time).
    full["git_sha"], full["git_dirty"] = _git_state(here)
    # The driver's capture keeps only a bounded tail of stdout, which
    # has truncated the per-query dict out of past BENCH_rNN.json
    # artifacts (VERDICT r08 item 2) — persist the COMPLETE result to a
    # committed file so every per-query median survives the round, and
    # APPEND to a history log so round-over-round comparison never
    # depends on a mutable latest-file (VERDICT r12 item 4).
    with open(os.path.join(here, "BENCH_FULL_latest.json"), "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as f:
        f.write(json.dumps(full, separators=(",", ":")) + "\n")
    # The compact record (~200 bytes: headline total + commit anchor,
    # marked "compact") goes first, the full one-line result (~6 KB,
    # the per-query map) last: a consumer that parses the final line
    # gets the per-query data, and one that keeps only a bounded tail
    # still finds the compact record or the complete copies in
    # BENCH_FULL_latest.json / BENCH_HISTORY.jsonl. Compact separators
    # keep both lines as small as the contract allows.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "repeats": repeats,
        "n_queries": len(times),
        "git_sha": full["git_sha"],
        "git_dirty": full["git_dirty"],
        "compact": True,
    }
    print(json.dumps(compact, separators=(",", ":")))
    print(json.dumps(out, separators=(",", ":")))


def _git_state(repo_dir: str) -> tuple[str, bool]:
    """(HEAD sha, dirty?) — subprocess git, no dependency; ('unknown',
    True) when git is unavailable so a missing anchor reads as dirty,
    never as falsely clean."""
    import subprocess

    try:
        sha = subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "-C", repo_dir, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout
        # bench's own uncommitted artifacts don't make the CODE dirty
        dirty = any(
            line
            and not line[3:].startswith(
                ("BENCH_FULL_latest.json", "BENCH_HISTORY.jsonl", "BENCH_r")
            )
            for line in status.splitlines()
        )
        return sha, dirty
    except Exception:
        return "unknown", True


def _src_md5(fn) -> str:
    import hashlib
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    return hashlib.md5(src.encode()).hexdigest()[:12]


def _module_md5s() -> dict[str, str]:
    import hashlib

    import knowledge_graph_aware_recommender_systems_with_dbpedia_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    out: dict[str, str] = {}
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, os.path.dirname(root))
            with open(p, "rb") as f:
                out[rel] = hashlib.md5(f.read()).hexdigest()[:12]
    return out


if __name__ == "__main__":
    main()
