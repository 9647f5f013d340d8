"""Min-of-N noop-sink timings for specific keys — bench.py's method
(tools/measure.py: warm-ups, untimed gc, cold iterations) without
running the whole headline list.

Usage: python tools/time_keys.py key [key ...] [--iters=N] [--sf-dir=DIR]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    iters = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for a in sys.argv[1:]:
        if a.startswith("--iters="):
            iters = int(a.split("=", 1)[1])
        elif a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]

    import __spark_entry__ as e
    from atac_data_products_spark.session import get_spark, sweep_conf
    from tools.measure import time_key, warm_up

    qs = e.queries()
    # same conf-sweep seam as check_correctness.py: ADP_SWEEP_CONF holds
    # comma-separated k=v Spark conf pairs, so conf A/Bs can be timed
    # with the bench methodology (the committed session defaults stay
    # untouched — this is a measurement tool, not the product session)
    extra = sweep_conf()
    spark = get_spark("time-keys", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, qs, sf_dir)
    for name in args:
        runs, _, compiled = time_key(spark, lambda: qs[name](spark, sf_dir), iters)
        print(json.dumps({"query": name, "sec": min(runs), "runs": runs,
                          "compiled_classes_runs": compiled}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
