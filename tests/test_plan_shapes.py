"""CI gate over the PHYSICAL PLAN SHAPE of every registry key.

Automates docs/PLAN_AUDIT.md's hand-audited classification (VERDICT r05
task 2 / r06 task 1): the zero-scale-killer state — no row-at-a-time
Python eval anywhere, every single-partition global window bounded by a
value grid / top-k limit / fixed-size relation, SortMergeJoin only on
fact-to-fact joins, BroadcastNestedLoopJoin only as single-row scalar
folds, Arrow seams only at the designed sites — was previously guarded
by a hand-maintained table plus a standalone tool.  This test runs
tools/plan_shape_scan.py's scanner over ALL registry keys each suite
run and fails if anyone adds an unclassified hazard.

Allowlists are keyed by registry name with an UPPER BOUND on node count
and the PLAN_AUDIT class as documentation:

- adding a global window / SMJ / NLJ to a key not listed -> FAIL
  (classify it in docs/PLAN_AUDIT.md and add it here, or rewrite it)
- adding MORE such nodes to a listed key -> FAIL (same drill)
- REMOVING one (a scalability rewrite) -> FAIL on the stale-entry
  check, forcing the allowlist (and the audit doc) to stay accurate

Plan shape does not depend on scale factor, so the scan reads the
session's sf0.001 `registry_plans` (conftest.py); eagerly-probing
operators (adaptive cluster probe, iterative seeds) execute their
bounded probes during construction, which is cheap at that scale.
"""

from __future__ import annotations

import pytest

from tools import plan_shape_scan as scanner

# key -> (max global-window count, PLAN_AUDIT class).  Classes:
#   grid           input bounded by a value grid (days / hours / months /
#                  cents / distinct seconds / quantile buckets) —
#                  independent of fact row count
#   top-k          window runs AFTER orderBy().limit(k): sees <= k rows
#   fixed-internal the global_* distributed operators' per-partition
#                  offset relation (<= numPartitions rows by design;
#                  operators/windows.py)
GLOBAL_WINDOW_ALLOWLIST: dict[str, tuple[int, str]] = {
    "abc_pareto_classification": (1, "fixed-internal"),
    "corpus_hashed_retrieval_topk": (1, "top-k"),
    "corpus_vocab_coverage": (1, "top-k"),
    "customer_rfm_segmentation": (3, "fixed-internal"),
    "events_anomaly_seasonal": (3, "grid"),
    "events_outage_gaps": (1, "grid"),
    "events_peak_concurrency": (2, "fixed-internal"),
    "events_slo_burn_rate": (1, "grid"),
    "events_top_paths": (1, "grid"),
    "growth_month_over_month": (1, "grid"),
    "interval_coverage_profile": (1, "grid"),
    "join_zip_columns": (2, "fixed-internal"),
    "ml_decision_stump": (2, "grid"),
    "ml_roc_auc": (1, "grid"),
    "orders_abc_xyz_matrix": (1, "fixed-internal"),
    "orders_backlog_snapshot": (1, "grid"),
    "skyline_pareto_frontier": (1, "fixed-internal"),
    "stat_kaplan_meier": (2, "grid"),
    "stat_ks_two_sample": (1, "grid"),
    "stat_lorenz_gini": (1, "fixed-internal"),
    "stat_spearman_rank_corr": (2, "grid"),
    "stat_zipf_regression": (1, "top-k"),
    "text_keyword_rake": (1, "top-k"),
    "timeseries_forecast_backtest": (1, "grid"),
    "timeseries_locf_impute": (1, "grid"),
    "timeseries_seasonal_decompose": (1, "grid"),
    "window_rolling_median": (1, "grid"),
}

# Keys allowed SortMergeJoin nodes: every one a FACT-to-FACT join
# (dedup candidate/verify joins, graph edge-edge joins, reconciliation
# full-outer) where SMJ is the correct strategy at scale.  A dim-side
# join must broadcast; a new SMJ key fails here until audited.
SMJ_ALLOWLIST: dict[str, int] = {
    "cdc_merge_upsert": 1,
    # dedup_cluster_chain_audit left this list: its candidate pairs are
    # eagerly checkpointed, so the fact-to-fact joins run below the
    # checkpoint, outside the plan this scan sees (oracle-checked)
    "dedup_containment": 4,
    "dedup_incremental_probe": 4,
    "dedup_lsh_band_sweep": 3,
    "dedup_minhash_estimate_calibration": 5,
    "dedup_minhash_lsh": 4,
    "dedup_minhash_lsh_exact": 4,
    "dedup_minhash_lsh_star_stress": 4,
    "dedup_prefix_filter_join": 4,
    "dedup_simhash_eval": 1,
    "graph_assortativity": 2,
    "graph_bfs_hops": 3,
    "graph_common_neighbors": 4,
    "graph_kcore_peel": 2,
    # graph_pagerank left this list in round 13: its per-iteration
    # fact-to-fact joins are hinted ShuffledHashJoin now (no edge
    # re-sort per iteration; operators/graph.py)
    "graph_triangle_count": 8,
    "orders_revenue_bridge": 1,
    "scan_file_pairs": 1,
    "semantic_bucket_purity": 1,
    "similarity_ann_recall_eval": 2,
    "similarity_matryoshka_prefix_eval": 2,
    "table_diff_reconcile": 1,
}

# Keys allowed BroadcastNestedLoopJoin / CartesianProduct nodes: every
# site is a broadcast of a SINGLE-ROW (or <= a few-row constant) scalar
# relation — a grand total, a fitted coefficient, a threshold — crossed
# onto the fact side.  That is the standard Spark idiom for "divide
# every row by the global sum" and is O(rows), not O(rows^2).
NESTED_LOOP_ALLOWLIST: dict[str, int] = {
    "abc_pareto_classification": 1,
    "basket_association_rules": 1,
    "bloom_semi_join": 1,
    "corpus_bigram_logprob": 1,
    "corpus_doc_embedding_hashed": 1,
    "corpus_hashed_retrieval_topk": 1,
    "corpus_importance_resampling": 1,
    "corpus_js_divergence_sources": 1,
    "corpus_lang_drift_kl": 1,
    "corpus_mixture_temperature": 1,
    "corpus_quality_percentile_gate": 1,
    "corpus_tfidf_topk": 1,
    "corpus_unigram_logprob": 1,
    "corpus_vocab_coverage": 1,
    "corpus_vocab_growth_curve": 2,
    "dedup_embedding_cosine": 1,
    "dedup_lsh_band_sweep": 6,
    "dedup_sampled_rate_estimate": 1,
    "dedup_simhash_eval": 2,
    "dq_fk_inference": 6,
    "dq_skew_profile": 1,
    "events_anomaly_seasonal": 2,
    "events_cusum_drift": 1,
    "events_peak_concurrency": 1,
    "fuzzy_match_names": 1,
    "graph_kcore_peel": 2,
    "graph_pagerank": 4,
    "join_range_banding": 1,
    "knn_label_vote": 1,
    "ml_decision_stump": 1,
    "ml_naive_bayes_langid": 3,
    "ml_psi_drift": 1,
    "orders_abc_xyz_matrix": 1,
    "privacy_t_closeness": 2,
    "similarity_ann_recall_eval": 1,
    "similarity_ivf_topk": 1,
    "similarity_knn_join": 1,
    "similarity_matryoshka_prefix_eval": 2,
    "sketch_bloom_fpr_eval": 3,
    "sketch_hll_mergeable_rollup": 1,
    "stat_benford_law": 1,
    "stat_bootstrap_poisson_ci": 1,
    "stat_chi_square_independence": 4,
    "stat_diff_in_diff": 1,
    "stat_kaplan_meier": 3,
    "stat_ks_two_sample": 1,
    "stat_mcnemar_classifiers": 3,
    "stat_theil_sen": 2,
    "stat_welch_ttest": 1,
    "stat_welch_ttest_ab": 1,
    "supplier_scorecard_composite": 1,
    "text_pmi_bigrams": 2,
    "timeseries_autocorrelation": 1,
    "tpch_q11_value_concentration": 1,
    "tpch_q22_idle_customers": 1,
    "tpch_refresh_cycle": 5,
    "vector_pca_power_iteration": 2,
}

# The designed Arrow seams (ArrowEvalPython / FlatMapGroupsInPandas
# / MapInPandas): binary codecs (h5ad/h5mu plain + gzip, PNG, WAV,
# AVI demux), byte feature extraction, stateful sessionization,
# rowgroup stats, batch ML scoring.  Everything else must stay
# JVM-side whole-stage codegen.
ARROW_ALLOWLIST: dict[str, int] = {
    "ml_score_batch": 1,
    "multimodal_avi_demux": 1,
    "multimodal_byte_features": 1,
    "multimodal_frame_sample": 1,
    "multimodal_media_pipeline": 3,
    "multimodal_png_decode": 1,
    "multimodal_wav_decode": 1,
    "scan_h5ad": 1,
    "scan_h5ad_codec": 1,
    "scan_parquet_rowgroup_stats": 1,
    "sessionize_apply_in_pandas": 1,
    "sink_h5mu_file": 1,
    "sink_h5mu_file_gzip": 1,
    # r12: per-batch sufficient-statistics gram (replaced the exploded
    # self-join that Catalyst broadcast-built from the whole corpus)
    "vector_gram_int8": 1,
}


@pytest.fixture(scope="module")
def shapes(registry_plans) -> dict:
    return scanner.scan(registry_plans)


def test_capture_builds_each_key_once_and_restores_conf(spark):
    from tools.plan_capture import FIELDS_CONF, capture

    builds = []

    def ok(spark, sf_dir):
        builds.append((sf_dir, spark.conf.get(FIELDS_CONF)))
        return spark.range(3).selectExpr("id", "rand(1) AS r")

    def bad(spark, sf_dir):
        raise ValueError("no plan")

    before = spark.conf.get(FIELDS_CONF, None)
    plans = capture(spark, {"ok": ok, "bad": bad}, ["ok", "bad"], "sf")
    assert spark.conf.get(FIELDS_CONF, None) == before
    assert builds == [("sf", "100000")]
    assert plans["bad"] == {"err": "ValueError: no plan"}
    assert "rand(1)" in plans["ok"]["analyzed"]
    assert scanner.scan(plans)["ok"]["smj"] == 0


def test_all_plans_build(shapes):
    errs = {k: v["err"] for k, v in shapes.items() if v.get("err")}
    assert errs == {}, f"plans failed to build: {errs}"


def test_zero_row_at_a_time_python(shapes):
    """BatchEvalPython (row-at-a-time Python UDF) must stay ZERO
    engine-wide — it is the 10-100x slow path the design forbids."""
    hits = {k: v["batch_eval"] for k, v in shapes.items() if v.get("batch_eval")}
    assert hits == {}, f"row-at-a-time Python UDF in plans: {hits}"


def test_global_windows_match_audit(shapes):
    observed = {
        k: len(v["global_windows"])
        for k, v in shapes.items()
        if v.get("global_windows")
    }
    unclassified = {
        k: n for k, n in observed.items() if k not in GLOBAL_WINDOW_ALLOWLIST
    }
    assert unclassified == {}, (
        "UNCLASSIFIED single-partition global window(s) — classify in "
        f"docs/PLAN_AUDIT.md + this allowlist, or rewrite: {unclassified}"
    )
    over = {
        k: (n, GLOBAL_WINDOW_ALLOWLIST[k][0])
        for k, n in observed.items()
        if n > GLOBAL_WINDOW_ALLOWLIST[k][0]
    }
    assert over == {}, f"more global windows than audited (got, max): {over}"
    stale = sorted(set(GLOBAL_WINDOW_ALLOWLIST) - set(observed))
    assert stale == [], (
        "allowlist entries with no global window anymore (a rewrite "
        f"landed — update PLAN_AUDIT.md and remove here): {stale}"
    )


def test_smj_only_where_audited(shapes):
    observed = {k: v["smj"] for k, v in shapes.items() if v.get("smj")}
    unaudited = {k: n for k, n in observed.items() if k not in SMJ_ALLOWLIST}
    assert unaudited == {}, (
        "SortMergeJoin outside the audited fact-to-fact set — a dim "
        f"join must broadcast: {unaudited}"
    )
    over = {
        k: (n, SMJ_ALLOWLIST[k])
        for k, n in observed.items()
        if n > SMJ_ALLOWLIST[k]
    }
    assert over == {}, f"more SMJ nodes than audited (got, max): {over}"
    stale = sorted(set(SMJ_ALLOWLIST) - set(observed))
    assert stale == [], f"stale SMJ allowlist entries: {stale}"


def test_nested_loop_only_scalar_folds(shapes):
    observed = {
        k: v["nested_loop"] for k, v in shapes.items() if v.get("nested_loop")
    }
    unaudited = {
        k: n for k, n in observed.items() if k not in NESTED_LOOP_ALLOWLIST
    }
    assert unaudited == {}, (
        "BroadcastNestedLoopJoin/CartesianProduct outside the audited "
        f"single-row scalar-fold set: {unaudited}"
    )
    over = {
        k: (n, NESTED_LOOP_ALLOWLIST[k])
        for k, n in observed.items()
        if n > NESTED_LOOP_ALLOWLIST[k]
    }
    assert over == {}, f"more NLJ nodes than audited (got, max): {over}"
    stale = sorted(set(NESTED_LOOP_ALLOWLIST) - set(observed))
    assert stale == [], f"stale NLJ allowlist entries: {stale}"


def test_arrow_seams_only_designed_sites(shapes):
    observed = {
        k: v["arrow_eval"] for k, v in shapes.items() if v.get("arrow_eval")
    }
    assert observed == ARROW_ALLOWLIST, (
        "Arrow seam set diverged from the ten designed sites: "
        f"got {observed}"
    )
