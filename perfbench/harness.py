"""Process machinery shared by the workloads: Spark set-up and teardown,
peak-memory sampling, CPU-time and CPU-steal readings, and the traced
run's span recorder and Spark status-store reader.

Nothing here changes what the package computes.  The tracer wraps calls
into the package from the outside (``Tracer.patch``) and tags the jobs each
span runs with ``SparkContext.setJobGroup``; after the workload it reads
job, stage and task counters from Spark's status store, which is populated
with the UI off.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEM = "2g"
SESSION_CONF = {
    # keep every job, stage and SQL execution of a run in the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def configure_process(work: str) -> None:
    """Point every scratch location of Spark and Python inside ``work``
    and fix the core count and driver memory the workloads run with."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the short-lived launcher JVM that builds the driver's command
        # line would otherwise keep its perf counters under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = os.path.join(work, "tmp")
    SESSION_CONF["spark.driver.extraJavaOptions"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    SESSION_CONF["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    SESSION_CONF["spark.hadoop.hadoop.tmp.dir"] = os.path.join(work, "tmp")


def _warm_workers(spark) -> None:
    """One task per core through a Python worker, as the first real job
    of a session would pay for it."""
    sc = spark.sparkContext
    sc.parallelize(range(CPUS), CPUS).map(lambda x: x + 1).collect()


def set_up(repeats: int):
    """Set the session up cold ``repeats`` times and return the last one,
    with each set-up's ``(get_spark seconds, worker warm-up seconds)``.

    Every set-up launches its own driver JVM, as a fresh CWL job does:
    each but the last is torn down with its JVM before the next starts.
    Each is timed from ``get_spark`` through the first Python-worker job."""
    from atac_data_products_spark.session import get_spark

    times = []
    for i in range(repeats):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=SESSION_CONF)
        t1 = time.perf_counter()
        _warm_workers(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
        if i < repeats - 1:
            tear_down(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def tear_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class MemSampler:
    """Peak memory of the program while it works, sampled in the
    measured windows only (``with sampler.window(): ...``), so output
    checks and oracle runs between windows are not counted.

    Each sample reads from ``/proc`` the proportional set size of the
    Python driver, the driver JVM and the JVM's Python workers (pages a
    forked worker shares with its daemon count once), and the JVM's used
    heap through its ``MemoryMXBean``.  Transient children the JVM spawns
    (a ``java`` child sharing its address space between fork and exec,
    shell helpers) are skipped.  ``peaks_mb`` gives the peak of each part
    and of the three processes' sum (``total``)."""

    PARTS = ("python", "workers", "jvm", "jvm_heap")

    def __init__(self, spark, period_s: float = 0.1):
        self.period_s = period_s
        self._mx = spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryMXBean()
        self.peak_kb = {k: 0 for k in (*self.PARTS, "total")}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @contextmanager
    def window(self):
        self.sample()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.sample()

    def stop(self) -> None:
        """End the sampling thread; call before the JVM is torn down."""
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=30)

    def _loop(self) -> None:
        while self._active.wait() and not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        with self._lock:
            jvms, workers = _process_tree(os.getpid())
            part = {
                "python": _pss_kb(os.getpid()),
                "workers": sum(_pss_kb(p) for p in workers),
                "jvm": sum(_pss_kb(p) for p in jvms),
                "jvm_heap": self._mx.getHeapMemoryUsage().getUsed() // 1024,
            }
            part["total"] = part["python"] + part["workers"] + part["jvm"]
            for k, v in part.items():
                self.peak_kb[k] = max(self.peak_kb[k], v)

    @property
    def peaks_mb(self) -> dict:
        return {k: v / 1024.0 for k, v in self.peak_kb.items()}


def _process_tree(root_pid: int) -> tuple[list[int], list[int]]:
    """The ``java`` children of ``root_pid``, and the Python processes
    under those JVMs (the worker daemon and its forked workers)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        ppid = int(stat[stat.rfind(")") + 1:].split()[1])
        children.setdefault(ppid, []).append((int(name), comm))
    jvms = [p for p, comm in children.get(root_pid, ()) if comm == "java"]
    workers, todo = [], list(jvms)
    while todo:
        for pid, comm in children.get(todo.pop(), ()):
            if comm.startswith("python"):
                workers.append(pid)
                todo.append(pid)
    return jvms, workers


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the Python driver, its
    JVM and the JVM's Python workers, plus their children that have ended.

    Unlike wall time this leaves out time the hypervisor gave to other
    guests, so it moves with the work the program does, not with how
    busy the host is."""
    ticks = 0
    jvms, workers = _process_tree(os.getpid())
    for pid in (os.getpid(), *jvms, *workers):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rfind(")") + 1:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs, since boot (``/proc/stat``; 0 where the kernel has no count)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 when absent)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def tree_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def file_digest(paths: list[str]) -> str:
    """SHA-256 over the bytes of ``paths``, in the order given."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def code_digest() -> str:
    """Digest of the package's and the benchmark's Python sources."""
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("atac_data_products_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return file_digest(sorted(files))


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# -- traced run ---------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run}-{self.sid}"


class Tracer:
    """Span recorder.  Disabled, every method is a no-op, so workloads
    call it unconditionally and the untraced run pays nothing.

    Spans stay in memory; ``report`` joins them with the status store's
    job, stage and SQL-execution records after the workload ends."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer,
                 parent.sid if parent else None, self.run, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - s.end

    def patch(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span around
        each call; ``unpatch`` restores it."""
        if not self.enabled:
            return
        inner = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return inner(*args, **kwargs)

        self._replace(module, attr, wrapper)

    def count_collects(self) -> None:
        """Wrap ``DataFrame.collect`` and ``DataFrame.toPandas`` so the
        innermost open span records the rows each brings to the driver
        (``attrs["rows_collected"]``).  A collect made inside another (a
        fallback path of ``toPandas``) counts once."""
        if not self.enabled:
            return
        cls = type(self.spark.range(0))
        depth = [0]
        for attr in ("collect", "toPandas"):
            inner = getattr(cls, attr)

            def wrapper(df, *args, _inner=inner, **kwargs):
                depth[0] += 1
                try:
                    out = _inner(df, *args, **kwargs)
                finally:
                    depth[0] -= 1
                if depth[0] == 0 and self._stack:
                    attrs = self._stack[-1].attrs
                    attrs["rows_collected"] = attrs.get("rows_collected", 0) + len(out)
                return out

            self._replace(cls, attr, wrapper)

    def _replace(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr),
                              attr in vars(owner)))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, inner, own in reversed(self._patches):
            if own:
                setattr(owner, attr, inner)
            else:  # inherited: drop the wrapper to uncover it again
                delattr(owner, attr)
        self._patches.clear()

    # -- counters -----------------------------------------------------------

    def report(self, task_lists_for: set[str] = frozenset()) -> "TraceReport":
        """Read the status store and attribute jobs to spans.

        ``task_lists_for``: span names whose per-task durations are read
        (one py4j call per task, so only where task skew matters)."""
        t0 = time.perf_counter()
        groups = {s.group: s for s in self.spans}
        store = self.spark.sparkContext._jsc.sc().statusStore()
        per_span: dict[int, dict] = {s.sid: _zero_counters() for s in self.spans}
        task_durations: dict[int, list[float]] = {}
        jobs = store.jobsList(None)
        job_group: dict[int, int] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            s = groups.get(g.get()) if g.isDefined() else None
            if s is None:
                continue
            job_group[job.jobId()] = s.sid
            c = per_span[s.sid]
            c["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                stage_id = sids.apply(k)
                try:
                    st = store.stageAttempt(stage_id, 0, False, None, False, None)._1()
                except Exception:  # stage evicted or never attempted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["task_s_sum"] += st.executorRunTime() / 1000.0
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["output_bytes"] += st.outputBytes()
                c["output_records"] += st.outputRecords()
                if s.name in task_lists_for:
                    tl = store.taskList(stage_id, 0, 100000)
                    durs = task_durations.setdefault(s.sid, [])
                    for t in range(tl.size()):
                        d = tl.apply(t).duration()
                        if d.isDefined():
                            durs.append(d.get() / 1000.0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            owner = None
            it = ex.jobs().keys().iterator()
            while it.hasNext():
                owner = job_group.get(it.next(), owner)
            if owner is None:
                continue
            for key, n in plan_nodes(ex.physicalPlanDescription()).items():
                per_span[owner][key] += n
        read_s = time.perf_counter() - t0
        return TraceReport(self.spans, per_span, task_durations,
                           self.overhead_s, read_s)


_COUNTERS = (
    "jobs", "stages", "tasks", "task_s_sum", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "output_bytes", "output_records",
    "exchanges",
    "broadcast_joins", "smj",
)


def _zero_counters() -> dict:
    return {k: 0 for k in _COUNTERS}


_NODE_PATTERNS = {
    "exchanges": re.compile(r"^\s*[:+\- ]*(?:\* )?(?:Exchange|BroadcastExchange)\b"),
    "broadcast_joins": re.compile(r"^\s*[:+\- ]*(?:\* )?BroadcastHashJoin\b"),
    "smj": re.compile(r"^\s*[:+\- ]*(?:\* )?SortMergeJoin\b"),
}


def plan_nodes(description: str) -> dict:
    """Count exchanges and join kinds in an executed plan's tree.

    With adaptive execution the description holds the final plan and the
    initial one; only the final plan is counted."""
    text = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    out = {k: 0 for k in _NODE_PATTERNS}
    for line in text.splitlines():
        for key, pat in _NODE_PATTERNS.items():
            if pat.match(line):
                out[key] += 1
    return out


@dataclass
class TraceReport:
    spans: list[Span]
    counters: dict[int, dict]
    task_durations: dict[int, list[float]]
    overhead_s: float
    read_s: float

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, span: Span) -> dict:
        """Counters of a span plus all its descendants."""
        out = dict(self.counters[span.sid])
        for child in self.spans:
            if child.parent == span.sid:
                for k, v in self.inclusive(child).items():
                    out[k] += v
        return out

    def total(self, name: str) -> dict:
        out = _zero_counters()
        for s in self.named(name):
            for k, v in self.inclusive(s).items():
                out[k] += v
        return out

    def attr_total(self, name: str, key: str) -> int:
        """Sum of a numeric span attribute over the spans called ``name``
        and all their descendants."""
        def inclusive(span: Span) -> int:
            return span.attrs.get(key, 0) + sum(
                inclusive(c) for c in self.spans if c.parent == span.sid)

        return sum(inclusive(s) for s in self.named(name))

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            child = sum(c.end - c.start for c in self.spans if c.parent == s.sid)
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child
        return out

    def table(self) -> list[dict]:
        """One row per span name: calls, seconds, self seconds, counters."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"span": s.name, "layer": s.layer,
                                         "calls": 0, "s": 0.0, "self_s": 0.0,
                                         **_zero_counters()})
            child = sum(c.end - c.start for c in self.spans if c.parent == s.sid)
            r["calls"] += 1
            r["s"] += s.end - s.start
            r["self_s"] += s.end - s.start - child
            for k, v in self.counters[s.sid].items():
                r[k] += v
        return list(rows.values())
