"""Min-of-N noop-sink timings for specific keys — bench.py methodology
(fresh session, warmup, untimed gc + cache clear between iterations)
without running the whole headline list.

Usage: python tools/time_keys.py key [key ...] [--iters N] [--sf-dir DIR]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

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

    qs = e.queries()
    # same conf-sweep seam as check_correctness.py: ADP_SWEEP_CONF holds
    # comma-separated k=v Spark conf pairs, so conf A/Bs can be timed
    # with the bench methodology (the committed session defaults stay
    # untouched — this is a measurement tool, not the product session)
    extra = sweep_conf()
    spark = get_spark("time-keys", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")

    # same warmups as bench.py: scan/shuffle/codegen + the Python pool
    qs["product_cell_count"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def _identity(it):
        yield from it

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(n_cpus * 4, numPartitions=n_cpus).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()

    out = {}
    for name in args:
        spark.sparkContext._jvm.System.gc()
        runs = []
        for _ in range(iters):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            del df
            gc.collect()
        out[name] = {"sec_min": min(runs), "runs": runs}
        print(json.dumps({"query": name, "sec": min(runs), "runs": runs}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
