"""Machine-enforce the integer-ratio quantization contract (r08 verdict
task 3 → r09): no registry key may publish `round(<ratio>, k)` unless
the site is a documented residual class.

Why a scanner: the round-8 sweep that converted ~45 keys to
`functions/numeric.py::mean_quantized*` was manual — nothing stopped a
NEW key from publishing `round(int_sum / n, k)` again, the exact form
whose 10^-k boundary Spark and DuckDB break differently and which an
integer ratio s/n LANDS ON with probability ~1/n per group
(docs/OPERATIONS.md "Published INTEGER RATIOS...").

What it does: for every registry key it walks the ANALYZED logical
plan (the semantic truth — catches `F.round`, `F.expr("round...")`,
and helper-wrapped forms alike), resolves attribute references
TRANSITIVELY across Project/Aggregate/Window bindings, and flags every
`round(...)` whose argument subtree reaches a ratio producer:

    ` / `            Divide (incl. the IEEE publish-divides of
                     quantized forms — classified, see below)
    `try_divide(`    NULL-safe divide
    `avg(`           sum/count in one node (no `/` in plan text!)
    `var_samp(` `var_pop(`  rational moments (Σ-forms over n)
    `percent_rank(` `cume_dist(`  rank ratios

Every flagged (key, column) must appear in EXEMPT with one of the
docs/OPERATIONS.md residual classes — and, hostile-sweep standard,
the match must be EXACT in both directions: an unexempted flag fails
(convert the site to mean_quantized* or classify it), and a stale
exemption fails (the site was rewritten — delete the entry).

Residual classes (docs/OPERATIONS.md "Corollaries"):
    quantized-composition   ± of ALREADY-quantized values: each operand
                            is exact at 10^-6, so the sum sits ~0.5e-6
                            from any 10^-6 boundary — round() is safe.
                            (The reachable `/` is mean_quantized's own
                            final exact-integer-over-unit divide.)
    irrational              ln/sqrt/pow/stddev/corr/percentile
                            interpolation in the subtree — a boundary
                            hit is measure-zero, accepted.
    exact-unit-divide       integer over a constant whose unit divides
                            10^6 — exact by construction; round() is a
                            no-op kept for schema clarity.
    window-under-test       percent_rank/cume_dist ARE the operator
                            being exercised; their ratio is the output.
    signed-denominator      ratio of rounded aggregates with a
                            sign-indefinite denominator
                            (ratio_to_report/mom_change style) — the
                            documented accepted residual.

Usage:
    python tools/quantization_scan.py [sf_dir] [key ...]

Exit 0 = every flag exempted and every exemption live.  The suite
wiring is tests/test_quantization_contract.py (same lockstep pattern
as tests/test_plan_shapes.py).
"""

from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")

# Ratio producers visible in analyzed-plan expression text.  ` / ` is
# Divide (Spark prints it space-padded; `https://...` literals don't
# match).  Integer `div` is deliberately NOT a marker — it is the exact
# lane the contract prescribes.
RATIO_MARKERS = re.compile(
    r"( / |try_divide\(|avg\(|var_samp\(|var_pop\()"
)
# The SQL window functions under test themselves (accepted residual
# class `window-under-test`): their ratio IS the operator's output.
WINDOW_MARKERS = re.compile(r"(percent_rank\(|cume_dist\()")
# Irrational producers: any of these in the round argument's subtree
# makes a 10^-k boundary hit measure-zero (accepted residual class
# `irrational`, docs/OPERATIONS.md) — the contract targets RATIONAL
# integer ratios, which land on boundaries with probability ~1/n.
IRRATIONAL_MARKERS = re.compile(
    r"(sqrt\(|cbrt\(|ln\(|log\(|log10\(|log2\(|power\(|pow\(|exp\(|"
    r"stddev|corr\(|percentile|atan|acos\(|asin\(|sin\(|cos\(|tan\(|pi\(\))",
    re.IGNORECASE,
)
ATTR_REF = re.compile(r"\b\w+#\d+[A-Za-z]*")
AS_BINDING = re.compile(r" AS (\w+#\d+[A-Za-z]*)")


def _balanced_arg(text: str, open_paren: int) -> str:
    """The balanced argument list of a call whose '(' is at open_paren."""
    depth, i = 1, open_paren + 1
    while i < len(text) and depth:
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return text[open_paren + 1 : i - 1]


def _expr_before(text: str, pos: int) -> str:
    """The expression ending at pos: walk back to the enclosing
    depth-0 boundary (list comma, opening bracket, or line start)."""
    depth, i = 0, pos - 1
    while i >= 0:
        c = text[i]
        if c in ")]":
            depth += 1
        elif c in "([":
            if depth == 0:
                break
            depth -= 1
        elif (c == "," and depth == 0) or c == "\n":
            break
        i -= 1
    return text[i + 1 : pos].strip()


def bindings(plan: str) -> dict[str, str]:
    """attr-id -> defining expression, across all plan nodes."""
    out: dict[str, str] = {}
    for m in AS_BINDING.finditer(plan):
        out.setdefault(m.group(1), _expr_before(plan, m.start()))
    return out


RATIO, WINDOW, IRRATIONAL = 1, 2, 4

# side-channel for --detail audits: column -> round-arg snippet of the
# most recent round_ratio_sites() call
_DETAIL: dict[str, str] = {}


def _markers_of(expr: str, defs: dict[str, str], memo: dict[str, int],
                stack: set[str]) -> int:
    """Bitmask of marker classes transitively reachable from expr."""
    mask = 0
    if RATIO_MARKERS.search(expr):
        mask |= RATIO
    if WINDOW_MARKERS.search(expr):
        mask |= WINDOW
    if IRRATIONAL_MARKERS.search(expr):
        mask |= IRRATIONAL
    for ref in ATTR_REF.findall(expr):
        if ref in stack:
            continue
        if ref not in memo:
            d = defs.get(ref)
            if d is None or d == ref:  # leaf column / self-binding
                memo[ref] = 0
            else:
                stack.add(ref)
                memo[ref] = _markers_of(d, defs, memo, stack)
                stack.discard(ref)
        mask |= memo[ref]
    return mask


def round_ratio_sites(plan: str) -> dict[str, str]:
    """Published columns whose `round(...)` argument transitively
    reaches a ratio producer: column name (alias sans #id) -> auto
    class.  `irrational` (subtree reaches an irrational producer —
    boundary hits measure-zero, auto-accepted) and `window-under-test`
    (the only ratio reachable is percent_rank/cume_dist) come back
    classified; `rational` sites need an EXEMPT entry or a rewrite.
    A round outside any binding (filter/sort position) is reported as
    `@unbound:<snippet>`."""
    defs = bindings(plan)
    memo: dict[str, int] = {}
    flagged: dict[str, str] = {}
    _DETAIL.clear()

    def classify(mask: int) -> str | None:
        if mask & IRRATIONAL:
            return "irrational"
        if mask & RATIO:
            return "rational"
        if mask & WINDOW:
            return "window-under-test"
        return None

    for name, expr in defs.items():
        worst, snip = None, ""
        for m in re.finditer(r"\bround\(", expr):
            arg = _balanced_arg(expr, m.end() - 1)
            cls = classify(_markers_of(arg, defs, memo, set()))
            if cls == "rational":
                worst, snip = cls, arg
                break
            if cls and worst is None:
                worst, snip = cls, arg
        if worst:
            col = name.split("#")[0]
            flagged[col] = worst
            if worst == "rational":
                _DETAIL[col] = snip[:400]
    # rounds outside bindings (predicates, sort keys) — divergence risk
    # through row membership rather than published values
    bound_spans = []
    for m in AS_BINDING.finditer(plan):
        e = _expr_before(plan, m.start())
        bound_spans.append((m.start() - len(e), m.start()))
    for m in re.finditer(r"\bround\(", plan):
        if any(a <= m.start() < b for a, b in bound_spans):
            continue
        arg = _balanced_arg(plan, m.end() - 1)
        cls = classify(_markers_of(arg, defs, memo, set()))
        if cls:
            flagged["@unbound:" + arg[:60]] = cls
    return flagged


# ---------------------------------------------------------------------------
# Exemption list: (key, column) -> residual class.  EXACT in both
# directions (hostile-sweep standard): a flag not listed here fails the
# scan; an entry the scan no longer flags fails as stale.
#
# Classes (each is an argument for why a 10^-k boundary hit is either
# impossible or measure-zero; docs/OPERATIONS.md "Corollaries"):
#   exact-unit-divide    exact integer over a constant unit dividing a
#                        power of 10 at the round scale (cents/100 @2,
#                        µs/1e6 @6, k/32 minhash, k/10 recall, ppm/
#                        250000 burn, int/1000 inertia) — the value IS
#                        its rounded form; round() is a schema no-op.
#   quantized-composition  ±/abs/min/max/coalesce of ALREADY-exact
#                        values (quantized-lane outputs, exact-unit
#                        values): the result sits ON the grid, never
#                        within an ulp of a half-boundary.
#   signed-denominator   documented accepted residual: ratios of
#                        rounded aggregates whose DENOMINATOR is
#                        sign-indefinite (mom_change, ratio_to_report).
#   statistical-fold     multi-term IEEE accumulation (cusum extremes,
#                        Holt state, ANOVA sums of squares, var/covar):
#                        identical pinned op sequence in both engines,
#                        and the accumulated value's shortest decimal
#                        repr is ~17 digits — a 7-digit-5 ending is
#                        measure-zero.
#   inexact-double       the value pipeline passes through arbitrary-
#                        precision doubles (embedding floats) or
#                        binary-inexact literal coefficients (flesch's
#                        206.835/1.015/84.6): same measure-zero
#                        shortest-repr argument.
# ---------------------------------------------------------------------------

EXEMPT: dict[tuple[str, str], str] = {
    ("agg_stats_battery", "covar_qty_disc"): "statistical-fold",
    ("agg_stats_battery", "var_qty"): "statistical-fold",
    ("array_hof_battery", "mean_elem"): "inexact-double",
    ("attribution_model_compare", "first_touch_credit"): "exact-unit-divide",
    ("attribution_model_compare", "last_touch_credit"): "exact-unit-divide",
    ("attribution_model_compare", "linear_credit"): "exact-unit-divide",
    ("cohort_ltv_curve", "cum_revenue"): "exact-unit-divide",
    ("dedup_minhash_estimate_calibration", "abs_err"): "quantized-composition",
    ("dedup_minhash_estimate_calibration", "jaccard_est"): "exact-unit-divide",
    ("dedup_minhash_estimate_calibration", "jaccard_exact"): "quantized-composition",
    ("dedup_sampled_rate_estimate", "abs_error"): "quantized-composition",
    ("dedup_similarity_histogram", "hi"): "quantized-composition",
    ("dedup_similarity_histogram", "lo"): "quantized-composition",
    ("events_anomaly_seasonal", "daily_value"): "exact-unit-divide",
    ("events_anomaly_seasonal", "det_us"): "quantized-composition",
    ("events_anomaly_seasonal", "residual"): "exact-unit-divide",
    ("events_cusum_drift", "max_abs_cusum"): "statistical-fold",
    ("events_cusum_drift", "max_cusum"): "statistical-fold",
    ("events_cusum_drift", "min_cusum"): "statistical-fold",
    ("events_kpi_daily", "revenue"): "exact-unit-divide",
    ("events_slo_burn_rate", "burn_1h"): "exact-unit-divide",
    ("events_slo_burn_rate", "burn_6h"): "exact-unit-divide",
    ("growth_month_over_month", "mom_change"): "signed-denominator",
    ("similarity_ann_recall_eval", "recall_at_10"): "exact-unit-divide",
    ("similarity_matryoshka_prefix_eval", "overlap_at_k"): "exact-unit-divide",
    ("stat_anova_oneway", "f_stat"): "statistical-fold",
    ("stat_diff_in_diff", "did_estimate"): "quantized-composition",
    ("stat_lorenz_gini", "total_revenue"): "exact-unit-divide",
    ("text_keyword_rake", "score"): "exact-unit-divide",
    ("text_readability_scores", "flesch"): "inexact-double",
    ("timeseries_ewma_smoothing", "daily_value"): "exact-unit-divide",
    ("timeseries_holt_forecast", "forecast_1d"): "statistical-fold",
    ("timeseries_holt_forecast", "forecast_7d"): "statistical-fold",
    ("timeseries_holt_forecast", "level_value"): "statistical-fold",
    ("timeseries_holt_forecast", "trend_value"): "statistical-fold",
    ("timeseries_ohlc_downsample", "close"): "exact-unit-divide",
    ("timeseries_ohlc_downsample", "high"): "exact-unit-divide",
    ("timeseries_ohlc_downsample", "low"): "exact-unit-divide",
    ("timeseries_ohlc_downsample", "open"): "exact-unit-divide",
    ("timeseries_ohlc_downsample", "volume"): "exact-unit-divide",
    ("timeseries_seasonal_decompose", "daily_value"): "exact-unit-divide",
    ("timeseries_seasonal_decompose", "det_us"): "quantized-composition",
    ("timeseries_seasonal_decompose", "residual"): "quantized-composition",
    ("tpch_q1_pricing_summary", "sum_base_price"): "exact-unit-divide",
    ("tpch_q1_pricing_summary", "sum_charge"): "exact-unit-divide",
    ("tpch_q1_pricing_summary", "sum_disc_price"): "exact-unit-divide",
    ("tpch_q1_pricing_summary", "sum_qty"): "exact-unit-divide",
    ("vector_centroids", "centroid_val"): "inexact-double",
    ("vector_dim_profile", "mean_x"): "inexact-double",
    ("vector_kmeans_lloyd", "centroid_d0"): "exact-unit-divide",
    ("vector_kmeans_lloyd", "inertia"): "exact-unit-divide",
    ("vector_quantize_int8", "q"): "inexact-double",
    ("window_distribution_battery", "ratio_to_report"): "signed-denominator",
    ("window_rolling_median", "daily_value"): "exact-unit-divide",
}


def scan(plans: dict) -> dict:
    """Keys of a `plan_capture.capture` result with round-ratio sites."""
    result = {}
    for key, p in plans.items():
        if "err" in p:
            result[key] = p
            continue
        sites = round_ratio_sites(p["analyzed"])
        if sites:
            result[key] = {"round_ratio_columns": sites}
            detail = {
                c: _DETAIL[c]
                for c, cls in sites.items()
                if cls == "rational" and c in _DETAIL
            }
            if detail:
                result[key]["rational_detail"] = detail
    return result


def verdict(result: dict) -> tuple[list[str], list[str]]:
    """(violations, stale_exemptions) — both must be empty.  Only
    `rational` sites (no irrational producer in the pipeline, ratio not
    solely the window function under test) need exemptions."""
    flagged = {
        (k, c)
        for k, v in result.items()
        for c, cls in v.get("round_ratio_columns", {}).items()
        if cls == "rational"
    }
    errs = [f"{k}: {v['err']}" for k, v in result.items() if v.get("err")]
    violations = sorted(
        f"{k}.{c}" for (k, c) in flagged if (k, c) not in EXEMPT
    ) + errs
    stale = sorted(f"{k}.{c}" for (k, c) in EXEMPT if (k, c) not in flagged)
    return violations, stale


def main() -> int:
    from atac_data_products_spark.session import get_spark
    from tools.plan_capture import capture

    import __spark_entry__ as e

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("quantization-scan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    keys = sys.argv[2:] or list(qs)
    result = scan(capture(spark, qs, keys, sf_dir))
    print(json.dumps(result, indent=1, sort_keys=True))
    violations, stale = verdict(result)
    for v in violations:
        print(f"VIOLATION (unexempted round-over-ratio): {v}", file=sys.stderr)
    for s in stale:
        print(f"STALE EXEMPTION (site no longer flagged): {s}", file=sys.stderr)
    print(
        f"\n{len(result)} keys with round-over-ratio sites; "
        f"{len(violations)} violations, {len(stale)} stale exemptions",
        file=sys.stderr,
    )
    return 1 if (violations or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
