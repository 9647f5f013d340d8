"""Benchmark loop: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE SHORT JSON line (the LAST line of stdout):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>, "n_queries": N}

The driver captures a bounded TAIL of stdout, so the line must stay small
enough to survive truncation (BENCH_r03 was unparseable because the
67-entry queries map pushed the line head past the capture window —
VERDICT r03 "Next round #1").  Strategy: the summary line carries only the
aggregate plus a queries map for the first few headliners; the FULL
per-query map is written to BENCH_DETAIL.json next to this script, and
each query also prints its own tiny per-line record as it finishes (so a
truncated tail still shows the latest timings).

Execution is forced through the noop sink (full pipeline runs, no
driver-side collect skew).  Queries here are the scale-relevant plans:
the flagship product build, the shuffle-heavy aggregations/windows, and
the extension operators (dedup / similarity / text / streaming-batch).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from atac_data_products_spark.session import get_spark
from tools.measure import time_key, warm_up

HEADLINE = [
    "product_build_obs",
    "product_cell_count",
    "union_outer_concat",
    "join_donor_metadata",
    "agg_first_match",
    "first_match_shortcircuit",
    "agg_collect_lists",
    "scan_file_pairs",
    # extension headliners appended as implemented (registry_ext)
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine_lsh",
    "text_quality_score",
    "similarity_topk",
    "similarity_ivf_topk",
    "window_tumbling_agg",
    "window_session_agg",
    "join_asof_attribution",
    "sessionize_apply_in_pandas",
    "analytics_regional_revenue",
    # batch 2/3 analytics (registry_analytics)
    "agg_stats_battery",
    "agg_cube_pricing",
    "window_topk_per_group",
    "array_hof_battery",
    "zorder_key",
    # LLM-corpus pipeline (registry_corpus)
    "corpus_normalize_redact",
    "corpus_tfidf_topk",
    "corpus_split_assign",
    "corpus_seq_packing",
    "corpus_mixture_sample",
    "corpus_contamination",
    "corpus_repetition_ratio",
    "corpus_stats_rollup",
    "join_gene_map",
    # batch 4 analytics + corpus batch 2
    "interval_coverage_profile",
    "dict_tag_terms",
    "vector_quantize_int8",
    "join_asof_tolerance",
    "corpus_quality_gate",
    "corpus_chunk_overlap",
    # round-2 batch: reconciliation, graph profile, vocab, sequences
    "table_diff_reconcile",
    "graph_degree_stats",
    "corpus_vocab_coverage",
    "events_sequence_pattern",
    "corpus_training_manifest",
    # round-3 heavyweights: iterative / multi-stage composition plans
    "graph_pagerank",
    "corpus_dedup_survivors",
    "join_interval_overlap_banded",
    # round-3 batch 2: iterative ML, LM scoring, governance audits
    "vector_kmeans_lloyd",
    "corpus_bigram_logprob",
    "corpus_cross_source_overlap",
    "ml_psi_drift",
    "stream_late_data_audit",
    # the flagship composition: full LLM pipeline in one plan
    "corpus_pipeline_e2e",
    # classic decision-support shapes (registry_tpch)
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q14_promo_share",
    "tpch_q18_large_orders",
    # round-3 scale-ops batch (registry_scale): physical-rewrite joins,
    # reconciliation, distributed sufficient-statistics ML, sampling
    "dedup_prefix_filter_join",
    "bloom_semi_join",
    "spatial_grid_nn",
    "table_checksum",
    "vector_pca_power_iteration",
    "similarity_mmr_rerank",
    "stat_bootstrap_poisson_ci",
    "orders_backlog_snapshot",
    # round-7: bench-scale single-file h5mu artifact — gzip'd CSR write
    # + distributed filter-pipeline decode read-back (VERDICT r06 #4)
    "sink_h5mu_file_gzip",
    # round-8: composed media ingest — sniff -> route -> all three codecs
    "multimodal_media_pipeline",
]

# Host-variance index (VERDICT r05 task 3 / r06 task 3): cross-day
# absolute totals mislead — round 5 measured these same unchanged keys
# 1.41x slower while the suite was load-normalized FASTER.  These seven
# queries are trivial, plan-frozen since round 1, and span the cost
# classes the suite exercises (scan, broadcast join, explode+pivot,
# top-1, collect_list agg, file-pair zip, codegen filter-agg), so the
# sum of their timings moves with HOST LOAD, not with code changes.
# Round-over-round comparisons should divide by the variance_index
# ratio before calling anything a regression (tools/bench_diff.py).
VARIANCE_INDEX_KEYS = [
    "union_outer_concat",
    "join_donor_metadata",
    "agg_first_match",
    "first_match_shortcircuit",
    "agg_collect_lists",
    "scan_file_pairs",
    "tpch_q6_forecast_revenue",
]

# Second index, different cost class (round-8 corpus_tfidf_topk
# adjudication, docs/PLAN_AUDIT.md): sub-second shuffle+explode-heavy
# keys drift 1.4-1.5x day-over-day in a CORRELATED cluster that the
# trivial-key index above does not track (its keys are scan/broadcast/
# codegen-bound).  These six corpus keys are plan-frozen and span
# explode, shuffle agg, window top-k, regex rewrite, and hash split —
# their sum moves with the host's shuffle/spill-path state.
# tools/bench_diff.py reports this ratio alongside the primary one so a
# flag raised under trivial-key normalization can be adjudicated
# against the matching cost class instead of by hand-run A/Bs.
VARIANCE_INDEX_MID_KEYS = [
    "corpus_tfidf_topk",
    "corpus_normalize_redact",
    "corpus_seq_packing",
    "corpus_mixture_sample",
    "corpus_split_assign",
    "corpus_chunk_overlap",
]


# Interleaved calibration probe (VERDICT r10 task 4): a FIXED,
# plan-frozen, data-independent unit of work measured immediately before
# every real key.  The two variance indices above normalize the run as a
# whole; a probe measured NEXT TO each key captures load at that moment,
# so per-key load-normalized seconds (sec / nearby-probe sec) compare
# across rounds with host load cancelled — flags self-adjudicate in
# tools/bench_diff.py instead of costing a round of hand-run A/Bs (the
# r10 driver host ran at variance_index 2.825 vs r09's 2.203 and every
# raw diff needed manual adjudication).  The probe spans the cost
# classes load perturbs: task scheduling (32 partitions), codegen
# arithmetic, and one small shuffle.  No input tables: immune to page-
# cache state, identical work at every sf.
# 1.5M rows: the probe's cost is ~85% task-scheduling floor (32 tasks ×
# 2 stages + noop commit ≈ 0.55s quiet regardless of rows — measured
# 1M/1.5M/4M all ≈ 0.57-0.6s warm), which is exactly the load signal;
# the small compute term keeps it sensitive to CPU contention too.
_CAL_ROWS = 1_500_000


def _calibration_probe(spark) -> None:
    from pyspark.sql import functions as F

    (
        spark.range(0, _CAL_ROWS, 1, 32)
        .select((F.col("id") % 97).alias("k"), "id")
        .groupBy("k")
        .agg(
            F.sum("id").alias("s"),
            F.count("*").alias("c"),
            F.avg(F.col("id") * 3 % 101).alias("a"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _measure_calibration(spark, n: int = 2) -> list[float]:
    """n back-to-back probe timings; the MEAN is the load signal (a min
    would erase exactly the load spikes the probe exists to capture)."""
    out = []
    for _ in range(n):
        t0 = time.time()
        _calibration_probe(spark)
        out.append(round(time.time() - t0, 3))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    import __spark_entry__ as e

    qs = e.queries()
    spark = get_spark("adp-bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, qs, sf_dir)

    # min-of-N per query (N=3 by default): single-shot timings drift
    # ±0.15 s with JIT/GC noise at this scale, which round-over-round
    # comparison reads as phantom regressions; the min isolates plan
    # cost.  (r01/r02 were single-shot — totals are ~10-15% higher than
    # the same plans measured this way.)
    n_iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    # pay the probe's one-time analysis/codegen cost in warmup so the
    # first interleaved measurement is load, not compilation
    _measure_calibration(spark, n=1)

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    spill_runs: dict[str, list[float]] = {}
    compiled: dict[str, list[int]] = {}
    cal: dict[str, float] = {}
    cal_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        # calibration probe adjacent to (not inside) the key's window
        cal_runs[name] = _measure_calibration(spark)
        cal[name] = round(sum(cal_runs[name]) / len(cal_runs[name]), 3)
        runs[name], spill_runs[name], compiled[name] = time_key(
            spark, lambda: qs[name](spark, sf_dir), n_iters
        )
        timings[name] = min(runs[name])
        # per-query progress line: even a truncated stdout tail shows
        # the most recent timings (driver-side diagnostics, not parsed)
        print(json.dumps({"query": name, "sec": timings[name]}), flush=True)
    total = sum(timings.values())

    # record the keys ACTUALLY summed (not the constant): tools/
    # bench_diff.py refuses to normalize across artifacts whose summed
    # key sets differ, so a key dropped from the registry must show up
    # as a changed list, not silently shrink the index
    vi_present = [k for k in VARIANCE_INDEX_KEYS if k in timings]
    variance_index = round(sum(timings[k] for k in vi_present), 3)
    vim_present = [k for k in VARIANCE_INDEX_MID_KEYS if k in timings]
    variance_index_mid = round(sum(timings[k] for k in vim_present), 3)
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # per-key min + ALL run timings (r08 verdict task 5): a noisy
        # grading host shows up as a wide sec_runs spread on unchanged
        # keys, so cross-round diffs can adjudicate phantom regressions
        # from the artifact itself instead of same-session A/B essays.
        # `queries` (the min) stays the headline metric definition.
        "queries_runs": {
            k: {
                "sec_min": timings[k],
                "sec_runs": runs[k],
                # load signal adjacent to this key's runs + the key's
                # load-normalized cost in probe units (r10 task 4):
                # cross-round, (sec_min/cal_sec) ratios cancel host load
                # per-key — tools/bench_diff.py prefers them
                "cal_sec": cal[k],
                "cal_runs": cal_runs[k],
                "sec_load_norm": (
                    round(timings[k] / cal[k], 3) if cal.get(k) else None
                ),
                # seconds of spill_once parquet writes paid inside each
                # timed run (r12 verdict: the session-scoped write-once
                # means the min EXCLUDES the write — spill keys' steady-
                # state first-query cost is sec_min + the write, and a
                # key sharing another key's tag may show all zeros here
                # because the earlier key paid the derivation)
                **(
                    {"spill_write_sec_runs": spill_runs[k]}
                    if any(spill_runs.get(k) or [])
                    else {}
                ),
                # generated classes each timed run compiled (how to read
                # them: docs/OPERATIONS.md, codegen class cache)
                "compiled_classes_runs": compiled[k],
            }
            for k in timings
        },
        "sf": sf,
        "n_queries": len(timings),
        "variance_index": variance_index,
        "variance_index_keys": vi_present,
        "variance_index_mid": variance_index_mid,
        "variance_index_mid_keys": vim_present,
        # run-level calibration summary: the probe's median and spread
        # over the whole run — a one-glance host-quality figure (the
        # median moves with sustained load; the spread with burstiness)
        "cal_median": round(sorted(cal.values())[len(cal) // 2], 3) if cal else None,
        "cal_spread": (
            round(max(cal.values()) / min(cal.values()), 2)
            if cal and min(cal.values()) > 0
            else None
        ),
        "cal_probe": {"rows": _CAL_ROWS, "partitions": 32, "version": 1},
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # the driver-parsed line: LAST on stdout and kept SHORT.  `queries`
    # carries only the first few headliners so the line stays well under
    # any plausible tail-capture bound; the full map is in
    # BENCH_DETAIL.json (path echoed in the line).
    head = {k: timings[k] for k in list(timings)[:5]}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "queries": head,
                "sf": sf,
                "n_queries": len(timings),
                "variance_index": variance_index,
                "variance_index_mid": variance_index_mid,
                "cal_median": detail["cal_median"],
                "cal_spread": detail["cal_spread"],
                "detail": "BENCH_DETAIL.json",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
