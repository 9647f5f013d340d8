"""The one measurement method shared by bench.py and the tools.

- ``warm_up``: pay JVM/JIT start-up and the Python worker pool's spin-up
  before anything is timed.
- ``time_key``: bench.py's timed key run (noop sink, plan construction
  inside the window, cold iterations).
- ``compiled_classes``: how many generated classes the JVM has compiled,
  so a run's codegen cost can be told apart from its execution.
- ``sweep``: run each key under two settings and diff the normalized
  outputs (tools/tz_scan.py, tools/order_scan.py).

Named ``measure`` rather than ``harness``: perfbench/run.py puts
``tools/`` ahead of ``perfbench/`` on ``sys.path`` and imports its own
``harness`` module.
"""

from __future__ import annotations

import gc
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(it):
    yield from it


def warm_up(spark: SparkSession, queries: dict, sf_dir: str) -> None:
    """Exercise scan + shuffle + codegen once (``product_cell_count``),
    then one tiny ``mapInPandas`` across all cores, so timings measure
    plans, not JVM/JIT start-up or the Python worker pool's spin-up."""
    _noop(queries["product_cell_count"](spark, sf_dir))
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    _noop(
        spark.range(n_cpus * 4, numPartitions=n_cpus).mapInPandas(
            _identity, "id long"
        )
    )


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes compiled by this JVM so far: one per codegen
    cache miss (``CodegenMetrics`` records one compilation time per
    Janino compile), across every session of the JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def time_key(
    spark: SparkSession, build: Callable[[], DataFrame], iters: int
) -> tuple[list[float], list[float], list[int]]:
    """Run ``build()`` into the noop sink ``iters`` times; return the
    seconds of each run, the spill-write seconds paid inside it and the
    generated classes it compiled.

    - An untimed JVM gc comes first: dozens of codegen'd plans leave
      old-gen debt that throttles later shuffle-heavy keys (measured:
      dedup_prefix_filter_join 8.7 s after 40 keys vs 6.4 s after a
      collection).
    - Plan construction is inside the window: eager-iterative operators
      run jobs while the plan is built.
    - ``spill_once`` writes once per session, so only the first run
      pays the write; the second list makes that cost visible.
    - Later runs of a key should compile 0 classes: each run's plan
      reuses the classes of the first from the codegen cache.  A count
      above 0 there is recompilation, paid again by Janino and the JIT.
    - After each run, every persisted block is dropped (``clearCache``;
      localCheckpoint blocks go once the Python reference is collected),
      so runs stay cold instead of measuring cache latency, and an
      iterative key's persists do not GC-throttle the keys after it
      (measured: k-means 13.9 s late in a full run vs 4.5 s isolated;
      dedup_prefix_filter_join 9.0 s with references retained vs 6.1 s
      collected).
    """
    from atac_data_products_spark.spill import spill_write_seconds_total

    spark.sparkContext._jvm.System.gc()
    runs, spill_runs, compiled = [], [], []
    for _ in range(iters):
        sw0, cc0 = spill_write_seconds_total(), compiled_classes(spark)
        t0 = time.time()
        df = build()
        _noop(df)
        runs.append(round(time.time() - t0, 3))
        spill_runs.append(round(spill_write_seconds_total() - sw0, 3))
        compiled.append(compiled_classes(spark) - cc0)
        spark.catalog.clearCache()
        del df
        gc.collect()
    return runs, spill_runs, compiled


def sweep(keys: list[str], run: Callable, settings: tuple) -> int:
    """Run every key under both ``settings`` (``run(key, setting)``
    returns a pandas frame), compare the normalized outputs, print one
    ``[i/n] key: ok|DRIFT|ERR`` line per key and a summary.  Returns the
    exit code: 1 if any key drifts or errors, else 0."""
    from tools.check_correctness import normalize

    drift, errors = [], []
    for i, k in enumerate(keys, 1):
        try:
            a, b = (normalize(run(k, s)) for s in settings)
        except Exception as ex:  # noqa: BLE001 — report, don't mask
            errors.append(k)
            msg = str(ex).splitlines()[0][:120] if str(ex) else ""
            print(f"[{i}/{len(keys)}] {k}: ERR {type(ex).__name__}: {msg}", flush=True)
            continue
        if a.shape != b.shape or not a.equals(b):
            drift.append(k)
            print(f"[{i}/{len(keys)}] {k}: DRIFT", flush=True)
        else:
            print(f"[{i}/{len(keys)}] {k}: ok", flush=True)
    print(f"\n{len(keys) - len(drift) - len(errors)}/{len(keys)} invariant")
    if drift:
        print("DRIFT:", ", ".join(drift))
    if errors:
        print("ERRORS:", ", ".join(errors))
    return 1 if drift or errors else 0
