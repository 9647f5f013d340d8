"""Regenerate the physical-plan audit evidence (docs/PLAN_AUDIT.md).

Usage: python tools/explain_audit.py [key ...]   (default: the audit set)

Prints, per query: join strategies, exchanges, pushed filters, read
schemas — the properties the audit table asserts.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

AUDIT_KEYS = [
    "product_build_obs",
    "analytics_regional_revenue",
    "filter_match_eq",
    "project_drop_obs",
    "union_outer_concat",
    "join_donor_metadata",
    "agg_first_match",
    "dedup_minhash_signature",
    "window_tumbling_agg",
    # round-3 additions
    "vector_kmeans_lloyd",
    "ml_psi_drift",
    "dedup_incremental_probe",
    "corpus_cross_source_overlap",
    "multimodal_format_sniff",
]


def main() -> int:
    from atac_data_products_spark.session import get_spark
    from tools.plan_capture import formatted, nodes

    import __spark_entry__ as e

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    keys = sys.argv[1:] or AUDIT_KEYS
    for key in keys:
        plan = formatted(qs[key](spark, "/root/testdata/sf0.01"))
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
        schemas = re.findall(r"ReadSchema: [^\n]*", plan)

        # a shuffle's partitioning prints in its Arguments line only
        shuffle_args = re.findall(
            r"^\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)", plan, re.M
        )
        n_shuffle = sum(
            a.startswith(("hashpartitioning", "rangepartitioning", "RoundRobin"))
            for a in shuffle_args
        )
        print(f"== {key}")
        print(
            f"   BroadcastHashJoin={nodes(plan, 'BroadcastHashJoin')} "
            f"SortMergeJoin={nodes(plan, 'SortMergeJoin')} "
            f"ShuffledHashJoin={nodes(plan, 'ShuffledHashJoin')} "
            f"NestedLoop={nodes(plan, 'BroadcastNestedLoopJoin') + nodes(plan, 'CartesianProduct')} "
            f"ShuffleExchange={n_shuffle} "
            f"HashAggregate={nodes(plan, 'HashAggregate') + nodes(plan, 'ObjectHashAggregate')} "
            f"SortAggregate={nodes(plan, 'SortAggregate')}"
        )
        for p in dict.fromkeys(pushed):
            print(f"   {p[:140]}")
        for s in dict.fromkeys(schemas):
            print(f"   {s[:140]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
