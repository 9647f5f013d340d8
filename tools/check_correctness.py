"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column names, and an
order-insensitive value multiset (floats rounded).  Usage:

    python tools/check_correctness.py [sf_dir] [key ...]

The Spark phase runs CONCURRENTLY (6 driver threads pulling distinct
keys, the production multi-tenant shape — default since round 12: it
is 2.2x faster than sequential and strictly stronger, adding
cross-query interference detection to the same comparator).  Set
ADP_GATE_THREADS=1 for the sequential fallback, or another N to widen.
Oracles always run sequentially afterwards (DuckDB connections are not
thread-safe; the oracle side is not under test).

Conf-invariance sweeps: set ADP_SWEEP_CONF to comma-separated k=v
Spark conf pairs to run the identical gate under a deliberately
different physical configuration — e.g. disable auto-broadcast so
every threshold-decided join runs SMJ/shuffled-hash, the plan family
a 100 TB dim actually gets:

    ADP_SWEEP_CONF='spark.sql.autoBroadcastJoinThreshold=-1,\
spark.sql.shuffle.partitions=3,spark.sql.files.maxPartitionBytes=65536,\
spark.sql.adaptive.enabled=false' python tools/check_correctness.py ...

Results must be identical — the conf decides the physical plan, never
the answer.  Record full-registry runs in docs/SCALE_SWEEP.md.

Task-retry chaos mode: set ADP_CHAOS_KILL to a kill probability (e.g.
0.25) to start a driver-side chaos thread that polls the status REST
API and calls SparkContext.killTaskAttempt on that fraction of RUNNING
first attempts (at most one kill per (stage, partition) — kills do not
count toward spark.task.maxFailures, so every killed partition re-runs
exactly once).  This makes REAL task re-execution happen inside every
long-enough stage of every key; the hash gate then proves published
bytes are attempt-invariant.  Speculative duplicates can NOT be used
for this on a single machine: TaskSetManager.dequeueSpeculativeTask
requires the copy to run on a different HOST (verified empirically —
a 2-executor local-cluster with an 8s straggler and
speculation.interval=20ms launches zero speculative attempts).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from atac_data_products_spark.session import get_spark, sweep_conf as _sweep_conf  # noqa: E402
from atac_data_products_spark.sources.tables import TABLES  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # synthesized scale-sweep tables are Spark-written DIRECTORIES
        # of part files; the driver's testdata tables are single files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("string")
        else:
            df[c] = s.astype("string")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(key: str, spark_df, oracle_df) -> str:
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"SCHEMA MISMATCH spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"ROWCOUNT MISMATCH spark={len(spark_df)} oracle={len(oracle_df)}"
    a, b = normalize(spark_df), normalize(oracle_df)
    if not a.equals(b):
        diff = a.compare(b) if a.shape == b.shape else None
        head = diff.head(5).to_string() if diff is not None and not diff.empty else "(dtype diff)"
        for c in a.columns:
            if not a[c].equals(b[c]):
                head += f"\n  col {c}: spark={a[c].head(3).tolist()} oracle={b[c].head(3).tolist()}"
        return f"VALUE MISMATCH\n{head}"
    return "OK"


def start_chaos_killer(spark, prob: float) -> "ChaosKiller":
    killer = ChaosKiller(spark, prob)
    killer.start()
    return killer


class ExecutorChaos:
    """Executor-JVM chaos (ADP_CHAOS_EXEC_KILL=<period seconds>).

    Every ``period`` seconds SIGKILLs one CoarseGrainedExecutorBackend
    process (round-robin over live pids).  On a standalone
    local-cluster the worker reports the crash and the master
    relaunches a replacement executor, while every shuffle block the
    dead executor held is LOST — the next reducer fetch raises
    FetchFailed and the DAGScheduler resubmits the parent map stages.
    This exercises the third re-execution path (stage retry + lineage
    recompute) that neither task kills (ChaosKiller) nor speculation
    can reach: recomputed map outputs must produce byte-identical
    published results no matter which partitions recompute.

    SIGKILL, not killExecutor(): the latter is the dynamic-allocation
    downscale API — it lowers the executor target and the master never
    replaces the loss, so repeated use starves the app.
    """

    def __init__(self, period: float, app_id: str | None = None):
        import threading

        self._period = period
        # Scope pgrep to THIS application's executors: executor JVMs are
        # launched with "--app-id <appId>" on their command line, so an
        # unrelated Spark app running on the same host is never touched.
        self._pattern = (
            f"CoarseGrainedExecutorBackend.*{app_id}"
            if app_id
            else "CoarseGrainedExecutorBackend"
        )
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.kills = 0

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        import signal
        import subprocess

        while not self._stop.wait(self._period):
            try:
                pids = subprocess.run(
                    ["pgrep", "-f", self._pattern],
                    capture_output=True, text=True, timeout=5,
                ).stdout.split()
                if len(pids) < 2:
                    continue  # keep at least one executor alive
                victim = int(pids[self.kills % len(pids)])
                os.kill(victim, signal.SIGKILL)
                self.kills += 1
            except Exception:
                pass


class ChaosKiller:
    """Driver-side task-attempt killer (ADP_CHAOS_KILL).

    Polls /api/v1/applications/{app}/stages?status=ACTIVE&details=true
    and kills a deterministic ``prob`` sample of RUNNING attempt-0
    tasks via SparkContext.killTaskAttempt.  TaskKilled does not count
    toward spark.task.maxFailures and the partition is re-enqueued, so
    each killed (stage, partition) re-executes exactly once — genuine
    attempt re-execution with zero changes to the keys under test.
    The sample is hash-picked (not random) so runs are reproducible.
    """

    def __init__(self, spark, prob: float):
        import threading

        self._spark = spark
        self._prob = prob
        self._seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.kills = 0

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        import hashlib
        import json as _json
        import urllib.request

        sc = self._spark.sparkContext
        app_id = sc.applicationId
        # sc.uiWebUrl is the address the UI actually BOUND to — on a port
        # conflict Spark increments spark.ui.port (spark.port.maxRetries),
        # so deriving the URL from the conf would 404 forever and the
        # sweep would silently run with zero kills.
        base = sc.uiWebUrl or "http://localhost:4040"
        url = f"{base}/api/v1/applications/{app_id}/stages?status=ACTIVE&details=true"
        jsc_sc = sc._jsc.sc()
        while not self._stop.is_set():
            try:
                stages = _json.load(urllib.request.urlopen(url, timeout=2))
            except Exception:
                self._stop.wait(0.1)
                continue
            for st in stages:
                sid = st.get("stageId")
                for t in (st.get("tasks") or {}).values():
                    if t.get("status") != "RUNNING" or t.get("attempt", 0) != 0:
                        continue
                    part = (sid, t.get("index"))
                    if part in self._seen:
                        continue
                    pick = hashlib.md5(f"{sid}:{part[1]}".encode()).digest()[0]
                    if pick >= int(self._prob * 256):
                        self._seen.add(part)  # decided: spared
                        continue
                    self._seen.add(part)
                    try:
                        jsc_sc.killTaskAttempt(
                            int(t["taskId"]), True, "chaos-retry-sweep"
                        )
                        self.kills += 1
                    except Exception:
                        pass
            self._stop.wait(0.05)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from __spark_entry__ import oracle_sql, queries

    qs, os_ = queries(), oracle_sql()
    keys = sys.argv[2:] or list(qs)
    sweep_conf = _sweep_conf()
    if sweep_conf:
        print(f"conf-invariance sweep: {sweep_conf}")
    chaos_prob = float(os.environ.get("ADP_CHAOS_KILL", "0") or 0)
    if chaos_prob:
        sweep_conf.setdefault("spark.ui.enabled", "true")
        sweep_conf.setdefault("spark.ui.port", "4046")
        print(f"chaos mode: killing ~{chaos_prob:.0%} of first task attempts")
    exec_kill = float(os.environ.get("ADP_CHAOS_EXEC_KILL", "0") or 0)
    if exec_kill:
        print(f"executor chaos: SIGKILL one executor JVM every {exec_kill:g}s")
    spark = get_spark("correctness-check", extra_conf=sweep_conf or None)
    killer = start_chaos_killer(spark, chaos_prob) if chaos_prob else None
    exec_chaos = None
    if exec_kill:
        exec_chaos = ExecutorChaos(exec_kill, app_id=spark.sparkContext.applicationId)
        exec_chaos.start()
    con = duck_connect(sf_dir)
    # Spark phase — CONCURRENT by default since round 12 (the r11
    # concurrent sweeps proved the engine leak-free under 6/8-way load
    # and 2.2x faster than sequential; concurrency is also the stronger
    # gate — same comparator plus interference detection).  Fallback:
    # ADP_GATE_THREADS=1 restores the sequential legacy gate (useful
    # when a failure needs an uncontended repro, and for the chaos
    # sweeps' historical single-stream artifacts).
    n_threads = int(os.environ.get("ADP_GATE_THREADS", "6") or 6)
    results: dict[str, tuple] = {}

    def _run_key(key: str) -> None:
        t0 = time.time()
        try:
            sdf = qs[key](spark, sf_dir).toPandas()
            results[key] = ("ok", sdf, time.time() - t0)
        except Exception as e:
            results[key] = (
                "error", f"{type(e).__name__}: {e}", time.time() - t0
            )

    if n_threads > 1 and len(keys) > 1:
        import queue as _queue
        import threading as _threading

        print(
            f"spark phase: {n_threads} concurrent driver threads "
            "(ADP_GATE_THREADS=1 for the sequential fallback)"
        )
        work: _queue.Queue = _queue.Queue()
        for k in keys:
            work.put(k)

        def _worker() -> None:
            while True:
                try:
                    k = work.get_nowait()
                except _queue.Empty:
                    return
                _run_key(k)

        ts = [
            _threading.Thread(target=_worker, daemon=True)
            for _ in range(min(n_threads, len(keys)))
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    else:
        for key in keys:
            _run_key(key)
    # oracle + compare phase: sequential, in key order (a DuckDB
    # connection is not thread-safe, and the oracle is not under test)
    failed = []
    for key in keys:
        status, payload, dt = results[key]
        if status == "error":
            print(f"{key:32s} SPARK ERROR: {payload}")
            failed.append(key)
            continue
        sdf = payload
        if key not in os_:
            print(f"{key:32s} rows-only: {len(sdf)} rows  ({dt:.1f}s)")
            continue
        t0 = time.time()
        try:
            odf = con.execute(os_[key]).df()
        except Exception as e:
            print(f"{key:32s} ORACLE ERROR: {e}")
            failed.append(key)
            continue
        verdict = compare(key, sdf, odf)
        print(f"{key:32s} {verdict.splitlines()[0]}  rows={len(sdf)}  ({dt:.1f}s)")
        if verdict != "OK":
            print("\n".join(verdict.splitlines()[1:]))
            failed.append(key)
    # Sweep-validity sentinels are tracked apart from per-key failures
    # (advisor find, r12): appending them to `failed` made the 'N/M
    # passed' summary undercount per-key passes (344/345 printed when
    # every key passed but zero chaos kills fired).
    invalid_sweeps = []
    if killer is not None:
        killer.stop()
        print(f"chaos kills (re-executed partitions): {killer.kills}")
        if killer.kills == 0:
            # A zero-kill "chaos" run certifies retry determinism that was
            # never exercised (e.g. the UI poll URL was wrong) — fail loudly.
            print("CHAOS SWEEP INVALID: 0 task kills — nothing was exercised")
            invalid_sweeps.append("__chaos_zero_kills__")
    if exec_chaos is not None:
        exec_chaos.stop()
        print(f"executor chaos kills (SIGKILLed executor JVMs): {exec_chaos.kills}")
        if exec_chaos.kills == 0:
            print("EXEC CHAOS SWEEP INVALID: 0 executor kills — nothing was exercised")
            invalid_sweeps.append("__exec_chaos_zero_kills__")
    print(f"\n{len(keys) - len(failed)}/{len(keys)} passed")
    if failed:
        print("FAILED:", failed)
    if invalid_sweeps:
        print("INVALID SWEEPS (exit 1, not per-key failures):", invalid_sweeps)
    return 1 if failed or invalid_sweeps else 0


if __name__ == "__main__":
    sys.exit(main())
