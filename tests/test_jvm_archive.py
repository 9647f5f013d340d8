"""Life cycle of the driver JVM's class-data archive (jvm_archive.py).

The archive is made by the build step
(``python -m atac_data_products_spark.jvm_archive``), run once here in a
subprocess.  Each session case then starts its own driver JVM in a fresh
Python process, with the archive cache under ``tmp_path`` through
``XDG_CACHE_HOME``, runs one job, and tears the JVM down as a finished
job does: stdin closed, exit waited for.  The process reports what its
JVM was started with (``/proc/<jvm>/cmdline`` and ``environ``) and what
it mapped (``/proc/<jvm>/maps``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from atac_data_products_spark import jvm_archive
from tests.conftest import REPO

SESSION = r"""
import json, os, sys
from pyspark import SparkContext
from atac_data_products_spark.session import get_spark

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("jvm-archive-test", master="local[1]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
total = spark.range(100).selectExpr("sum(id) AS s").collect()[0].s
jvm = spark.sparkContext._jvm
pid = int(jvm.java.lang.ProcessHandle.current().pid())
with open(f"/proc/{pid}/cmdline", "rb") as f:
    cmdline = [a.decode() for a in f.read().split(b"\0") if a]
with open(f"/proc/{pid}/environ", "rb") as f:
    env = dict(e.decode().split("=", 1) for e in f.read().split(b"\0") if b"=" in e)
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
out = {"sum": total, "cmdline": cmdline, "maps": maps,
       "jvm_conf_dir": env.get("SPARK_CONF_DIR"),
       "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
       "conf_dir_before": conf_dir,
       "classpath": str(jvm.java.lang.System.getProperty("java.class.path"))}
spark.stop()
proc = SparkContext._gateway.proc
SparkContext._gateway.shutdown()
SparkContext._gateway = SparkContext._jvm = None
proc.stdin.close()
proc.wait()
print("RESULT " + json.dumps(out))
"""


def _env(cwd, cache_home, **env) -> dict:
    """The environment of a run from ``cwd`` with the cache under
    ``cache_home``; the conf dir holds only a template unless ``env``
    names another."""
    templates = os.path.join(cwd, "templates_conf")
    os.makedirs(templates, exist_ok=True)
    open(os.path.join(templates, "spark-defaults.conf.template"), "w").close()
    full = {**os.environ, "XDG_CACHE_HOME": str(cache_home),
            "PYTHONPATH": str(REPO), "SPARK_CONF_DIR": templates, **env}
    for var in ("PYSPARK_GATEWAY_PORT", *jvm_archive.CLASSPATH_ENV):
        full.pop(var, None)
    return full


def _session(cwd, cache_home, **env) -> dict:
    """One driver JVM's life (module docstring); what it reported."""
    r = subprocess.run([sys.executable, "-c", SESSION], cwd=cwd,
                       env=_env(cwd, cache_home, **env),
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, r.stdout[-2000:]
    # nothing but the report on stdout: the JVM printed no CDS lines
    assert r.stdout.splitlines() == lines, r.stdout[-2000:]
    out = json.loads(lines[0][len("RESULT "):])
    assert out["sum"] == 4950
    assert not glob.glob(os.path.join(cwd, "hs_err_pid*.log"))
    return out


def _cds_flags(out: dict) -> list[str]:
    return [a for a in out["cmdline"]
            if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a
            or a.startswith("-Xlog:cds")]


def _flag(out: dict, name: str) -> list[str]:
    return [a.split("=", 1)[1] for a in out["cmdline"] if a.startswith(f"-XX:{name}=")]


def _cache(cache_home) -> str:
    return os.path.join(cache_home, jvm_archive.CACHE_NAME)


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache the build step filled: ``(cache home, archive path)``."""
    cwd = tmp_path_factory.mktemp("build_cwd")
    home = tmp_path_factory.mktemp("build_cache")
    r = subprocess.run([sys.executable, "-m", "atac_data_products_spark.jvm_archive"],
                       cwd=cwd, env=_env(cwd, home), capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    # the archive's path is all the step prints
    (archive,) = r.stdout.splitlines()
    assert not glob.glob(os.path.join(cwd, "hs_err_pid*.log"))
    return home, archive


def test_session_without_archive_adds_no_flag_and_records_nothing(tmp_path):
    """A job's own JVM never records: with no archive it starts exactly as
    without this module, and leaves nothing in the cache."""
    home = tmp_path / "cache"
    out = _session(tmp_path, home)
    assert not _cds_flags(out)
    assert out["jvm_conf_dir"] == out["conf_dir_before"]
    assert not os.path.exists(_cache(home))


def test_build_step_leaves_a_checked_archive_at_its_key(built):
    home, archive = built
    (name,) = [n for n in os.listdir(_cache(home)) if n != "conf"]
    assert archive == os.path.join(_cache(home), name)
    assert name.endswith(".jsa") and len(name) == len("0" * 20 + ".jsa")
    # the build's temp dir and dump are gone; conf/ is empty
    assert os.listdir(os.path.join(_cache(home), "conf")) == []


def test_next_session_maps_the_archive(built, tmp_path):
    home, archive = built
    out = _session(tmp_path, home)
    assert _flag(out, "SharedArchiveFile") == [archive]
    assert not _flag(out, "ArchiveClassesAtExit")
    assert "-Xlog:cds=off" in out["cmdline"] and "-Xlog:cds+dynamic=off" in out["cmdline"]
    assert archive in out["maps"]
    assert jvm_archive.check(archive, jvm_archive._java(), out["classpath"])
    # the launch saw the empty conf dir; the caller's environment did not change
    assert out["jvm_conf_dir"] == os.path.join(_cache(home), "conf")
    assert out["conf_dir_after"] == out["conf_dir_before"]


def test_truncated_dump_is_never_installed(built, tmp_path):
    """A prefix of a sound archive passed to a JVM kills it with SIGBUS;
    the check has to catch it before it is installed."""
    _, archive = built
    cache = _cache(tmp_path / "cache")
    os.makedirs(cache)
    good = os.path.join(cache, os.path.basename(archive))
    shutil.copyfile(archive, good)
    dump = str(tmp_path / "dump.jsa")
    with open(archive, "rb") as f, open(dump, "wb") as g:
        g.write(f.read(os.path.getsize(archive) // 2))
    size = os.path.getsize(good)
    classpath = _session(tmp_path, tmp_path / "cache")["classpath"]
    assert not jvm_archive.install(dump, good, jvm_archive._java(), classpath)
    assert os.path.getsize(good) == size
    out = _session(tmp_path, tmp_path / "cache")
    assert _flag(out, "SharedArchiveFile") == [good]


def test_archive_under_another_key_is_not_passed(built, tmp_path):
    """An archive dumped from another jar list (one jar since replaced)
    sits under another key and never reaches the JVM."""
    _, archive = built
    home = tmp_path / "cache"
    os.makedirs(_cache(home))
    stale = os.path.join(_cache(home), "0" * 20 + ".jsa")
    shutil.copyfile(archive, stale)
    out = _session(tmp_path, home)
    assert not _cds_flags(out)
    assert stale not in out["maps"]


def test_conf_dir_with_real_files_gets_no_archive(built, tmp_path, monkeypatch):
    home, _ = built
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    (conf / "spark-defaults.conf.template").write_text("")
    out = _session(tmp_path, home, SPARK_CONF_DIR=str(conf))
    assert not _cds_flags(out)
    assert out["jvm_conf_dir"] == str(conf)
    assert out["conf_dir_after"] == str(conf)
    # nor does the build step make one for such a host
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert jvm_archive.build() is None
    assert not os.path.exists(_cache(tmp_path / "cache"))


def test_key_follows_every_jar(tmp_path):
    java = jvm_archive._java()
    jars = []
    for name in ("a.jar", "b.jar"):
        (tmp_path / name).write_bytes(b"x")
        jars.append(str(tmp_path / name))
    key = jvm_archive.archive_key(java, jars)
    assert jvm_archive.archive_key(java, list(reversed(jars))) == key
    os.utime(jars[1], ns=(0, 0))
    assert jvm_archive.archive_key(java, jars) != key


def test_callers_own_default_java_options_get_no_archive(built, tmp_path, monkeypatch):
    home, archive = built
    monkeypatch.setenv("XDG_CACHE_HOME", str(home))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "no_conf"))
    for var in jvm_archive.CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    assert jvm_archive.plan({"spark.driver.defaultJavaOptions": "-Xss4m"}) is None
    assert archive in jvm_archive.plan({}).java_options
