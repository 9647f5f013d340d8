"""CI gate for the integer-ratio quantization contract (r09).

Automates the round-8 manual sweep's invariant: no registry key may
publish `round(<ratio>, k)` over a rational-only pipeline unless the
site is one of the documented residual classes
(docs/OPERATIONS.md "Published INTEGER RATIOS..." + corollaries).

tools/quantization_scan.py walks every key's ANALYZED logical plan,
resolves attribute references transitively, and classifies every
round-over-ratio site; sites whose subtree reaches an irrational
producer (sqrt/ln/percentile/...) or whose only ratio is the window
function under test auto-accept.  The remaining `rational` sites must
match the scanner's EXEMPT table EXACTLY in both directions:

- a new rational round-over-ratio column -> FAIL (convert it to the
  mean_quantized*/ratio_scaled_int* lane, or classify it in EXEMPT
  with a residual class and a reason that survives review)
- a stale EXEMPT entry (the site was converted) -> FAIL (delete it)

Same lockstep standard as tests/test_plan_shapes.py and the hostile
sweep's CASE_MAPPING_EXEMPT.  Plan analysis does not depend on scale
factor, so the scan reads the session's sf0.001 `registry_plans`.
"""

from __future__ import annotations

from tools import quantization_scan as scanner


def test_all_plans_analyzable(registry_plans):
    errs = {k: v["err"] for k, v in registry_plans.items() if v.get("err")}
    assert errs == {}, f"plans failed to analyze: {errs}"


def test_rational_round_sites_exactly_exempted(registry_plans):
    violations, stale = scanner.verdict(scanner.scan(registry_plans))
    assert violations == [], (
        "UNEXEMPTED round() over a rational integer ratio — convert to "
        "the mean_quantized*/ratio_scaled_int* exact lane or classify "
        f"in tools/quantization_scan.py EXEMPT: {violations}"
    )
    assert stale == [], (
        "stale EXEMPT entries (site was converted — delete them): "
        f"{stale}"
    )


def test_exempt_classes_are_documented():
    allowed = {
        "exact-unit-divide",
        "quantized-composition",
        "signed-denominator",
        "statistical-fold",
        "inexact-double",
    }
    bad = {k: v for k, v in scanner.EXEMPT.items() if v not in allowed}
    assert bad == {}, f"EXEMPT entries with undocumented classes: {bad}"
