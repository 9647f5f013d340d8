"""CI gate for the task-retry determinism contract (r09 verdict task
4 → round 10).

Spark re-executes tasks — on failure (`spark.task.maxFailures`),
speculatively (`spark.speculation`), and wholesale on fetch-failure
stage retries.  Any expression that yields different bytes on a second
attempt (uuid, rand, monotonically_increasing_id, execution-time
timestamps, partition/file identity) makes the published hash depend
on which attempt the scheduler lets win.  The reference never faces
this (single eager process, `bin/concatenate.py` runs each step
exactly once); a 1000-executor cluster faces it constantly.

Two-sided enforcement, the scanner-family standard:

- STATIC (this test, pure plan analysis): every registry key's
  ANALYZED plan is scanned for nondeterministic-per-attempt markers by
  tools/nondeterminism_scan.py; every (key, marker) hit must appear in
  its EXEMPT table with an argued class (count-only-surface /
  run-stamp / internal-chunking), exact in BOTH directions — an
  unexempted marker fails, and a stale exemption fails too.
- DYNAMIC (tools/retry_sweep.py, recorded in docs/SCALE_SWEEP.md):
  the full driver-identical oracle gate re-run on a 2-executor
  local-cluster with spark.speculation tuned so duplicate attempts
  actually launch; results must be byte-identical.

This file wires the static half into the suite so a NEW key cannot
reintroduce the hazard unnoticed.  Plan analysis only — no jobs run;
~a second per key on the shared session.
"""

from __future__ import annotations

import pytest

from tools import nondeterminism_scan as scanner
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scan_result(spark):
    import __spark_entry__ as e

    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    qs = e.queries()
    return scanner, scanner.scan(spark, qs, list(qs), SF_DIR)


def test_no_unexempted_nondeterministic_exprs(scan_result):
    scanner, result = scan_result
    violations, _ = scanner.verdict(result)
    assert violations == [], (
        "Registry key's analyzed plan contains a nondeterministic-per-"
        "attempt expression not covered by the EXEMPT table — a task "
        "retry or speculative duplicate attempt could publish different "
        "bytes depending on which attempt wins.  Either make the "
        "expression deterministic, or (if the value provably never "
        "escapes into published bytes) add an argued exemption in "
        f"tools/nondeterminism_scan.py: {violations}"
    )


def test_no_stale_exemptions(scan_result):
    scanner, result = scan_result
    _, stale = scanner.verdict(result)
    assert stale == [], (
        "EXEMPT entry no longer matches any analyzed-plan marker — the "
        "site was rewritten; delete the entry so the table stays an "
        f"exact record of the live hazard surface: {stale}"
    )


def test_exempt_classes_are_argued():
    allowed = {"count-only-surface", "run-stamp", "internal-chunking"}
    for (key, marker), cls in scanner.EXEMPT.items():
        assert cls in allowed, (
            f"EXEMPT[{key!r}, {marker!r}] = {cls!r} is not one of the "
            f"argued classes {sorted(allowed)} documented in the "
            "scanner's module docstring"
        )
