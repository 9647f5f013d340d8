"""Static half of the task-retry determinism sweep (r09 verdict task
4 → round 10): flag every registry key whose ANALYZED plan contains a
nondeterministic-per-attempt expression.

Why: Spark re-executes tasks — on failure (spark.task.maxFailures),
speculatively (spark.speculation), and wholesale on fetch-failure
stage retries.  An expression that yields different bytes on a second
attempt (uuid, rand, monotonically_increasing_id, timestamps taken at
execution time, partition/file identity) can publish different values
per attempt; the published hash the driver records would then depend
on which attempt won.  The dynamic half (tools/retry_sweep.py) proves
the registry's results survive real duplicate attempts on a
2-executor local-cluster; THIS scan proves the absence of the hazard
class statically, so a new key can't reintroduce it unnoticed.

Markers (analyzed-plan text, lowercased match):
    uuid(                    per-row random v4
    rand(  randn(            per-row random draws (seeded per-query,
                             but input-order-sensitive on shuffled
                             input, whose intra-partition order is not
                             stable across attempts)
    monotonically_increasing_id   partition-layout-dependent
    spark_partition_id(      physical-plan-dependent
    input_file_name(         scan-split-dependent
    current_timestamp  now() current_date  current_timezone
                             evaluation-time-dependent (foldable at
                             analysis, but still run-dependent: two
                             runs of the same key differ)
    shuffle(                 (array shuffle) per-row random

Every flagged (key, marker) must appear in EXEMPT with an argued
class — exact in both directions, the scanner-family standard:

    count-only-surface   the nondeterministic column never escapes:
                         the key publishes only counts/EXISTS facts
                         over it, which are attempt-invariant.
    run-stamp            a deliberately run-scoped audit stamp whose
                         oracle checks shape only (rows-only or
                         count oracle) — documented in the key's
                         docstring.
    internal-chunking    the nondeterministic value is an INTERNAL
                         grouping key for exact-integer partial sums
                         (overflow chunking) — dropped before publish,
                         and the final decimal(38,0) total is
                         invariant to ANY chunking, so a different
                         id assignment on a retried attempt cannot
                         change a published byte.

Usage:
    python tools/nondeterminism_scan.py [sf_dir] [key ...]

Suite wiring: tests/test_retry_determinism.py.
"""

from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")

MARKERS = re.compile(
    r"(uuid\(|\brand\(|\brandn\(|monotonically_increasing_id|"
    r"spark_partition_id\(|input_file_name\(|current_timestamp|"
    r"\bnow\(\)|current_date|current_timezone|\bshuffle\()",
    re.IGNORECASE,
)

EXEMPT: dict[tuple[str, str], str] = {
    # uuid() feeds count_distinct only — n distinct v4 uuids over n
    # rows is n on every attempt (collision probability 2^-122);
    # the published columns are counts (registry.py::gen_uuid).
    ("gen_uuid", "uuid("): "count-only-surface",
    # current_timestamp is CAST to string and COUNTED; published
    # columns are counts (registry.py::gen_timestamp).  Also:
    # current_timestamp is evaluated ONCE per query at the driver
    # (foldable), so even the intermediate is attempt-invariant.
    ("gen_timestamp", "current_timestamp"): "count-only-surface",
    # shiftright(monotonically_increasing_id(), 25) is Q1's overflow
    # chunking key: <= 2^25-row runs bound the int64 partial sums; the
    # chunk column is dropped by the outer groupBy and the decimal
    # totals are chunking-invariant (registry_tpch.py::tpch_q1 "Overflow
    # safety is BY CONSTRUCTION" paragraph).
    ("tpch_q1_pricing_summary", "monotonically_increasing_id"): "internal-chunking",
}


def scan(plans: dict) -> dict:
    """Keys of a `plan_capture.capture` result with markers."""
    result: dict[str, dict] = {}
    for key, p in plans.items():
        if "err" in p:
            result[key] = p
            continue
        hits = sorted({m.group(1).lower() for m in MARKERS.finditer(p["analyzed"])})
        if hits:
            result[key] = {"markers": hits}
    return result


def verdict(result: dict) -> tuple[list[str], list[str]]:
    flagged = {
        (k, m) for k, v in result.items() for m in v.get("markers", [])
    }
    errs = [f"{k}: {v['err']}" for k, v in result.items() if v.get("err")]
    violations = sorted(
        f"{k} [{m}]" for (k, m) in flagged if (k, m) not in EXEMPT
    ) + errs
    stale = sorted(f"{k} [{m}]" for (k, m) in EXEMPT if (k, m) not in flagged)
    return violations, stale


def main() -> int:
    from atac_data_products_spark.session import get_spark
    from tools.plan_capture import capture

    import __spark_entry__ as e

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("nondeterminism-scan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    keys = sys.argv[2:] or list(qs)
    result = scan(capture(spark, qs, keys, sf_dir))
    print(json.dumps(result, indent=1, sort_keys=True))
    violations, stale = verdict(result)
    for v in violations:
        print(f"VIOLATION (unexempted nondeterministic expr): {v}",
              file=sys.stderr)
    for s in stale:
        print(f"STALE EXEMPTION: {s}", file=sys.stderr)
    print(
        f"\n{len(result)} keys with nondeterministic markers; "
        f"{len(violations)} violations, {len(stale)} stale",
        file=sys.stderr,
    )
    return 1 if (violations or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
