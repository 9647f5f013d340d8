"""Capture .explain("formatted") for bench headline keys into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [key ...]

Writes plans/<tag>/<key>_<suffix>.txt (suffix defaults to "before").
Default key set: every bench.py HEADLINE key.  Plan construction only —
no job runs (keys whose construction is eager run their bounded probes,
same as bench).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    keys = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as e
    from atac_data_products_spark.session import get_spark
    from tools.plan_capture import formatted

    if not keys:
        keys = bench.HEADLINE
    qs = e.queries()
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        if key not in qs:
            print(f"SKIP {key}: not registered")
            continue
        try:
            plan = formatted(qs[key](spark, sf_dir))
            path = os.path.join(outdir, f"{key}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}")
        except Exception as ex:  # noqa: BLE001
            print(f"ERR {key}: {ex}")
        finally:
            spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
