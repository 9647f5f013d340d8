"""Concurrent-query sweep: N driver threads run DISTINCT registry keys
SIMULTANEOUSLY in one SparkSession, then every result is hash-compared
against its DuckDB oracle (round 11 — a new assurance axis).

Why this axis exists: every prior gate ran keys sequentially, but the
production shape of a shared engine is concurrent — notebooks, a
multi-tenant job server, a DAG scheduler fanning independent stages
into one application.  Spark supports this officially (jobs submitted
from separate driver threads run concurrently under the scheduler),
yet it is exactly where session-global state leaks turn into
cross-query corruption that NO sequential gate can see:

- session-conf mutation visible to a sibling query mid-plan,
- SparkContext-level state races (setCheckpointDir, job groups),
- cached/persisted blocks or temp views shared by name,
- spill/checkpoint path collisions,
- non-thread-safe driver-side memoization in operator code.

The sweep's contract: a key's published values must be IDENTICAL
whether it ran alone or next to any mix of other keys.  The oracle
hash-compare (the same comparator as the sequential driver gate) is
the detector; any scheduling interleaving is valid, so a pass here is
necessary-but-not-exhaustive — the axis is about finding leaks, not
proving their absence.

DuckDB oracles run sequentially in the main thread afterwards (a
DuckDB connection is not thread-safe; the oracle side is not under
test).

Usage:
    python tools/concurrency_sweep.py [sf_dir] [n_threads] [key ...]

Record full-registry runs in docs/SCALE_SWEEP.md.
"""

from __future__ import annotations

import queue
import sys
import threading
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

from check_correctness import compare, duck_connect  # noqa: E402

from atac_data_products_spark.session import get_spark, sweep_conf as _sweep_conf  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_threads = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    keys = sys.argv[3:] or list(qs)
    # ADP_SWEEP_CONF: same seam as check_correctness — e.g. run the
    # concurrent sweep in reliable-checkpoint mode, where the
    # setCheckpointDir/release machinery is itself session-global state
    # under concurrent load
    sweep_conf = _sweep_conf()
    if sweep_conf:
        print(f"conf sweep: {sweep_conf}")
    spark = get_spark("concurrency-sweep", extra_conf=sweep_conf or None)
    spark.sparkContext.setLogLevel("ERROR")

    work: queue.Queue[str] = queue.Queue()
    for k in keys:
        work.put(k)
    results: dict[str, object] = {}
    errors: dict[str, str] = {}
    lock = threading.Lock()
    t0 = time.time()

    def worker() -> None:
        while True:
            try:
                key = work.get_nowait()
            except queue.Empty:
                return
            try:
                pdf = qs[key](spark, sf_dir).toPandas()
                with lock:
                    results[key] = pdf
            except Exception as ex:  # noqa: BLE001 — report, don't die
                with lock:
                    errors[key] = f"{type(ex).__name__}: {ex}"
            finally:
                work.task_done()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.time() - t0
    print(
        f"spark phase: {len(results)} results, {len(errors)} errors, "
        f"{n_threads} threads, {wall:.0f}s wall",
        flush=True,
    )

    con = duck_connect(sf_dir)
    failed = sorted(errors)
    for key, msg in sorted(errors.items()):
        print(f"{key:32s} SPARK ERROR (concurrent): {msg}")
    for key in sorted(results):
        if key not in os_:
            print(f"{key:32s} rows-only: {len(results[key])} rows")
            continue
        try:
            odf = con.execute(os_[key]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"{key:32s} ORACLE ERROR: {ex}")
            failed.append(key)
            continue
        verdict = compare(key, results[key], odf)
        if verdict != "OK":
            print(f"{key:32s} {verdict}")
            failed.append(key)
    print(f"\n{len(keys) - len(failed)}/{len(keys)} passed under {n_threads}-way concurrency")
    if failed:
        print("FAILED:", sorted(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
