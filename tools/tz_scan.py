"""Exhaustive session-timezone invariance scan over the registry.

Runs every key (or a subset) twice — session timezone UTC vs
Asia/Kathmandu (+05:45: east-of-UTC AND non-whole-hour, the offset
class that breaks day floors and window alignment anchored in session
time) — and reports any key whose normalized output differs.

The per-suite pytest battery (tests/test_timezone_invariance.py)
covers the calendar-risk subset on every run; this tool is the full
sweep for audits and round verdicts:

    python tools/tz_scan.py                       # all keys at sf0.001
    python tools/tz_scan.py /root/testdata/sf0.01 key1 key2

Exits nonzero if any key drifts or errors, so it can gate.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FLIP_TZ = "Asia/Kathmandu"
TZ_CONF = "spark.sql.session.timeZone"
SKIP = {"gen_uuid", "gen_timestamp"}  # nondeterministic by nature


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from atac_data_products_spark.session import get_spark
    from tools.measure import sweep

    import __spark_entry__ as entry

    qs = entry.queries()
    keys = sys.argv[2:] or [k for k in sorted(qs) if k not in SKIP]

    spark = get_spark("tz-scan", shuffle_partitions=8)

    def run(k, tz):
        spark.conf.set(TZ_CONF, tz)
        return qs[k](spark, sf_dir).toPandas()

    return sweep(keys, run, ("UTC", FLIP_TZ))


if __name__ == "__main__":
    raise SystemExit(main())
