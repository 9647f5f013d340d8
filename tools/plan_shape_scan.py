"""Scan the physical plan of EVERY registry key and dump shape metrics.

Usage: python tools/plan_shape_scan.py [sf_dir] [key ...]

Emits one JSON object to stdout: key -> {
    smj: #SortMergeJoin nodes,
    batch_eval: #BatchEvalPython nodes (row-at-a-time Python UDF — the
        slow path; must stay zero everywhere),
    arrow_eval: #ArrowEvalPython/#FlatMapGroupsInPandas/#MapInPandas
        (the three designed Arrow seams),
    global_windows: [window-function argument strings for every Window
        node whose partition spec is EMPTY — single-partition total
        orders, each of which must be grid / top-k / fixed bounded],
    nested_loop: #BroadcastNestedLoopJoin + #CartesianProduct,
    err: build error if the plan could not be constructed,
}

This is the data source for tests/test_plan_shapes.py (the automated
version of docs/PLAN_AUDIT.md's hand-audited classification table —
round-5 verdict task 2).  Plan SHAPE does not depend on scale factor,
so the default input is sf0.001 to keep eagerly-probing queries cheap.
"""

from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")

from tools.plan_capture import capture, nodes  # noqa: E402


def global_window_args(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec.

    `explain("formatted")` prints every Window node as::

        (n) Window
        Input [..]: [...]
        Arguments: [<funcs>], [<partition cols>], [<order cols>]   # 3 groups
        Arguments: [<funcs>], [<order cols>]                       # 2 groups = GLOBAL

    i.e. an empty partition spec drops the middle bracket group rather
    than printing `[]`.  A 2-group Window is a single-partition total
    order — the scale hazard class docs/PLAN_AUDIT.md classifies.
    """
    out = []
    blocks = re.findall(
        r"^\(\d+\) Window\n(?:Input[^\n]*\n)?Arguments: (.*)$", plan, re.M
    )
    for args in blocks:
        groups, depth, start = [], 0, None
        for i, ch in enumerate(args):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0 and start is not None:
                    groups.append(args[start + 1 : i])
                    start = None
        # 2 groups is ambiguous: [funcs],[partition] (no orderBy — a
        # partitioned, scale-safe window) vs [funcs],[order] (GLOBAL).
        # An order spec always carries sort direction markers; a
        # partition group never does.
        if len(groups) == 2 and re.search(
            r"\b(ASC|DESC) NULLS", groups[1]
        ):
            out.append(
                {"funcs": groups[0][:160], "order": groups[1][:160]}
            )
    return out


def scan(plans: dict) -> dict:
    """Shape metrics per key of a `plan_capture.capture` result."""
    result = {}
    for key, p in plans.items():
        if "err" in p:
            result[key] = p
            continue
        plan = p["formatted"]
        result[key] = {
            "smj": nodes(plan, "SortMergeJoin"),
            "batch_eval": nodes(plan, "BatchEvalPython"),
            "arrow_eval": (
                nodes(plan, "ArrowEvalPython")
                + nodes(plan, "FlatMapGroupsInPandas")
                + nodes(plan, "MapInPandas")
                + nodes(plan, "FlatMapGroupsInPandasWithState")
            ),
            "nested_loop": (
                nodes(plan, "BroadcastNestedLoopJoin")
                + nodes(plan, "CartesianProduct")
            ),
            "global_windows": global_window_args(plan),
        }
    return result


def main() -> int:
    from atac_data_products_spark.session import get_spark

    import __spark_entry__ as e

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-shape-scan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    keys = sys.argv[2:] or list(qs)
    result = scan(capture(spark, qs, keys, sf_dir))
    print(json.dumps(result, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
