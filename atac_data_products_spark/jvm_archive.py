"""A dynamic class-data-sharing (AppCDS) archive for the driver JVM.

A cold driver JVM spends most of its start loading and verifying the
~20 K classes Spark needs.  A dynamic archive holds those classes
already parsed; a JVM started with ``-XX:SharedArchiveFile`` maps it
instead.

The archive is made by an explicit step, once per host or container
image, before the jobs that use it::

    python -m atac_data_products_spark.jvm_archive

:func:`build` starts one driver JVM as ``session.get_spark`` does, runs
a first job through it (:func:`_first_job`), and has the JVM dump what
it loaded when it exits (``-XX:ArchiveClassesAtExit``).  The dump
becomes the archive only through ``os.replace`` after a throwaway
``java -Xshare:on`` on it exits 0 (:func:`check`): a truncated archive
kills any JVM that maps it with SIGBUS, even under ``-Xshare:auto``.

``session.get_spark`` asks :func:`plan` for the flags of each driver JVM
it launches, and only ever maps a checked archive.  It never records
one: a job's own JVM that records starts about 3 s slower and takes
about 7 s longer to exit, and a job in a fresh container never lives to
map its dump.  With no archive, or one that cannot be used (a conf dir
with real files, a caller's own ``spark.driver.defaultJavaOptions``, no
``java`` found), no flag is added and the JVM runs as it would without
this module.

Files, under ``$XDG_CACHE_HOME/atac-data-products-spark`` (default
``~/.cache``):

- ``<key>.jsa``: a checked archive.  ``<key>`` digests the ``java``
  binary and the driver's jars (name, size and mtime of each), so a new
  JDK or a changed jar gives a new key and the old file is never mapped.
- ``<key>.<random>.build/``: a build in flight, removed when it ends.
- ``conf/``: an empty ``SPARK_CONF_DIR`` for the launch.  Spark puts the
  conf dir on the classpath and the JDK refuses a non-empty directory on
  an archived classpath, so the archive is used only when the
  configured conf dir holds nothing but ``*.template`` files.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from dataclasses import dataclass

CACHE_NAME = "atac-data-products-spark"
# a check of a sound archive takes well under a second
CHECK_TIMEOUT_S = 120
# the JVM prints CDS warnings (a skipped class, a mismatched archive) on
# stdout, which callers such as perfbench keep for their own output
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# directories the Spark launcher appends to the driver's classpath when set
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


@dataclass(frozen=True)
class Launch:
    """What one driver JVM launch gets: its CDS options and the conf dir
    to launch with."""

    java_options: str
    conf_dir: str


def cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(root, CACHE_NAME)


def _java() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, jars: list[str], extra: str = "") -> str:
    """Digest of the ``java`` binary and its JVM library, and of each jar's
    name, size and mtime: what the archive's classes were read from."""
    h = hashlib.sha256()
    libjvm = glob.glob(os.path.join(os.path.dirname(os.path.dirname(java)),
                                    "lib", "server", "libjvm.so"))
    for path in [java, *libjvm, *sorted(jars)]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(extra.encode())
    return h.hexdigest()[:20]


def _templates_only(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _site(conf: dict[str, str]) -> tuple[str, str, str] | None:
    """``(java, cache dir, key)`` of the archive a driver JVM started with
    Spark conf ``conf`` could map, or None when it cannot map any."""
    if "spark.driver.defaultJavaOptions" in conf:
        return None
    if any(os.environ.get(v) for v in CLASSPATH_ENV):
        return None
    java = _java()
    if java is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    if not _templates_only(os.environ.get("SPARK_CONF_DIR")
                           or os.path.join(spark_home, "conf")):
        return None
    cache = cache_dir()
    # the launcher splits java options on whitespace
    if any(c.isspace() or c in "'\"" for c in cache):
        return None
    try:
        key = archive_key(java, glob.glob(os.path.join(spark_home, "jars", "*.jar")),
                          conf.get("spark.driver.extraClassPath", ""))
    except OSError:
        return None
    return java, cache, key


def _empty_conf_dir(cache: str) -> str | None:
    path = os.path.join(cache, "conf")
    try:
        os.makedirs(path, exist_ok=True)
        return None if os.listdir(path) else path
    except OSError:
        return None


def plan(conf: dict[str, str]) -> Launch | None:
    """The CDS launch for a driver JVM started with Spark conf ``conf``:
    a checked archive to map, or None (module docstring)."""
    site = _site(conf)
    if site is None:
        return None
    _, cache, key = site
    archive = os.path.join(cache, f"{key}.jsa")
    if not os.path.isfile(archive):
        return None
    empty = _empty_conf_dir(cache)
    if empty is None:
        return None
    return Launch(f"-XX:SharedArchiveFile={archive} {QUIET}", empty)


@contextlib.contextmanager
def spark_conf_dir(path: str):
    """``SPARK_CONF_DIR`` set to ``path`` while a driver JVM launches; the
    caller's value (or its absence) afterwards."""
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if before is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = before


def check(archive: str, java: str, classpath: str) -> bool:
    """Whether a JVM maps ``archive`` and starts: ``-Xshare:on`` fails
    instead of falling back, and a truncated file dies of SIGBUS.  Runs
    in a throwaway directory, so a crash log never lands in the caller's
    working directory."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(archive)) as cwd:
        try:
            r = subprocess.run(
                [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
                 "-XX:-CreateCoredumpOnCrash", "-XX:-UsePerfData",
                 f"-XX:ErrorFile={cwd}/hs_err_pid%p.log",
                 "-cp", classpath, "-version"],
                cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=CHECK_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired):
            return False
    return r.returncode == 0


def install(dump: str, archive: str, java: str, classpath: str) -> bool:
    """Make ``dump`` the archive at ``archive`` when it passes
    :func:`check` with the dumping JVM's ``classpath``; whether it did.
    A JVM already mapping an older file there keeps its mapping."""
    if not check(dump, java, classpath):
        return False
    os.replace(dump, archive)
    return True


def _first_job(spark, work: str) -> None:
    """What a product's first jobs load: a Python worker, Arrow batches to
    pandas and back, a codegen'd shuffle aggregate and a join, and a zstd
    parquet round trip."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.parallelize(range(2), 2).map(lambda x: x + 1).collect()
    df = spark.range(1000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    path = os.path.join(work, "first_job.parquet")
    agg.write.parquet(path)
    joined = spark.read.parquet(path).join(df, "k")
    joined.mapInPandas(lambda it: it, joined.schema).toPandas()


def _exit_jvm(spark) -> None:
    """Stop the session and wait for its JVM to exit (and so to dump)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the JVM exits when its stdin closes (PythonGatewayServer)
    proc.stdin.close()
    proc.wait()


def build() -> str | None:
    """Record, check and install the archive for ``get_spark``'s driver
    JVM, unless one is in place; its path, or None when a driver JVM here
    cannot map one.  Must run in a process with no driver JVM yet."""
    from pyspark import SparkContext

    from .session import get_spark

    site = _site({})
    if site is None:
        return None
    java, cache, key = site
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return archive
    if SparkContext._gateway is not None:
        raise RuntimeError("build the archive in a process with no driver JVM")
    empty = _empty_conf_dir(cache)
    if empty is None:
        return None
    work = tempfile.mkdtemp(prefix=f"{key}.", suffix=".build", dir=cache)
    try:
        dump = os.path.join(work, "dump.jsa")
        with spark_conf_dir(empty):
            spark = get_spark("jvm-archive-build", extra_conf={
                "spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={dump} {QUIET}"})
        try:
            classpath = str(spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.class.path"))
            _first_job(spark, work)
        finally:
            _exit_jvm(spark)
        if not install(dump, archive, java, classpath):
            raise RuntimeError(f"the driver JVM's dump failed its check; no archive at {archive}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return archive


if __name__ == "__main__":
    path = build()
    if path is None:
        sys.exit("no archive: a driver JVM here cannot map one "
                 "(a conf dir with real files, no java, or a cache path with spaces)")
    print(path)
