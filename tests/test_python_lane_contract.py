"""CI gate for the PYTHON-LANE rounding contract (r09 → r10).

The plan scanner (tools/quantization_scan.py) governs every JVM-side
expression, but Python arithmetic never reaches an analyzed plan —
round 9 found two real half-even-vs-half-away bugs in exactly that
blind spot (`ml_logistic_irls` driver β re-quantization,
`decode_image_stats` UDF pixel means).  docs/OPERATIONS.md records the
contract: Python-side numeric publishes use the bigint half-away
`(2|s|u + n) div 2n` forms.

tools/python_lane_scan.py machine-enforces it: an AST walk over the
whole package (plus `__spark_entry__.py`) flags builtin/numpy round
calls and `//` module-wide, and `/` inside Arrow-UDF bodies and
driver-fold functions.  Every flag must match the scanner's EXEMPT
table EXACTLY in both directions:

- a new Python-lane round()/floordiv/division -> FAIL (convert the
  site to the bigint half-away form, or classify it in EXEMPT with a
  class argument that survives review)
- a stale EXEMPT entry (the site was rewritten) -> FAIL (delete it)

Pure-AST: no SparkSession, runs in milliseconds.  Same lockstep
standard as tests/test_quantization_contract.py.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from tools import python_lane_scan as scanner

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def scan_result():
    return scanner, scanner.scan_all()


def test_python_lane_sites_exactly_exempted(scan_result):
    scanner, flags = scan_result
    violations, stale = scanner.verdict(flags)
    assert violations == [], (
        "UNEXEMPTED Python-lane rounding/floor-division construct — "
        "Python round() is half-even and `//` floors toward -inf, both "
        "diverging from the SQL forms the oracles run.  Convert the "
        "site to the bigint half-away `(2|s|u + n) div 2n` form "
        "(docs/OPERATIONS.md) or classify it in "
        f"tools/python_lane_scan.py EXEMPT: {violations}"
    )
    assert stale == [], (
        f"stale EXEMPT entries (site was rewritten — delete them): {stale}"
    )


def test_exempt_classes_are_documented(scan_result):
    scanner, _ = scan_result
    allowed = {
        "shared-constant",
        "statistical-fold",
        "nonneg-floor",
        "ceil-div-trick",
        "exact-int-to-double",
        "identical-ieee",
    }
    bad = {k: v for k, v in scanner.EXEMPT.items() if v not in allowed}
    assert bad == {}, f"EXEMPT entries with undocumented classes: {bad}"


def test_scanner_catches_the_r09_bug_class(tmp_path, scan_result):
    """Self-test: the exact construct that bit ml_logistic_irls in r09
    (a driver-fold `round()` after `.first()`) must be flagged, and a
    UDF-body division must be too — if the detector regresses, the
    whole contract is silently unenforced."""
    scanner, _ = scan_result
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def driver_fold(df):\n"
        "    m = df.agg(F.sum('x').alias('s')).first()\n"
        "    return round(m.s / 3, 9)\n"
        "\n"
        "def run(df):\n"
        "    def fn(batches):\n"
        "        for pdf in batches:\n"
        "            yield pdf.assign(r=pdf['a'] / pdf['b'])\n"
        "    return df.mapInPandas(fn, 'a double, b double, r double')\n"
    )
    # scan_file keys paths relative to the repo root; point it at the
    # probe via a scanner whose REPO is tmp_path
    old = scanner.REPO
    try:
        scanner.REPO = tmp_path
        flags = scanner.scan_file(probe)
    finally:
        scanner.REPO = old
    constructs = {(f["construct"], f["scope"]) for f in flags}
    assert ("round-call", "driver_fold") in constructs
    assert ("div-in-driver", "driver_fold") in constructs
    assert ("div-in-udf", "run.fn") in constructs
