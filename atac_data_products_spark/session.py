"""SparkSession builder tuned for this engine.

Design notes (100 TB target, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace hand-tuning per scale factor.
- Shuffle partitions default to max(2*cores, 64) locally; on a real
  cluster this is overridden to ~2-3x total executor cores, and AQE
  coalesces small post-shuffle partitions anyway.
- Arrow enabled for every pandas interchange (mapInPandas /
  applyInPandas at the ingestion boundary are Arrow-vectorized).
- UTC session timezone pins timestamp semantics so results are stable
  across environments (the reference stringifies ``datetime.now()`` with
  no timezone at all — bin/concatenate.py:140).
- Codegen class cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``).  Spark compiles each generated class
  with Janino and keeps it in a JVM-wide LRU of
  ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.  One
  cold pass over the four keys of the ``lsh_corpus`` benchmark workload
  compiles 174 classes, so at 100 every entry was evicted before its
  plan ran again: each warm pass over the built plans compiled 85-138
  classes anew, and the JIT compiled those fresh classes once more.
  With 2000 entries, and the class names below, warm passes compile 0
  classes.  The ``atac_product`` flow needs fewer than 100, so it never
  hit the old limit.  The conf is static, so it is set here in the
  builder; sessions not built by ``get_spark`` (one an outside caller
  creates) keep Spark's default.
  Whole-stage classes are named without their codegen stage id
  (``spark.sql.codegen.useIdInClassName=false``): under AQE two sibling
  stages can finish in either order, and a stage numbered differently
  on a later execution would otherwise be compiled again under its new
  name.
- The driver JVM starts from a dynamic class-data-sharing archive
  (``jvm_archive.py``) when one has been built for this JDK and jar
  list.  The reference runs each product as a CWL job in a fresh
  process, so every product pays for a cold JVM, and most of that start
  is class loading: with the archive mapped, a cold ``get_spark`` plus
  its first Python-worker job fell from about 7 s to about 4 s on a
  4-core host.  The archive is made by an explicit step
  (``python -m atac_data_products_spark.jvm_archive``), at install or
  image-build time, never by a job's own JVM: recording made a one-JVM
  job with no archive about twice as slow, and its dump was of no use
  to a job in a fresh container.  ``get_spark`` maps it through
  ``spark.driver.defaultJavaOptions``, which Spark puts ahead of a
  caller's ``extraJavaOptions``.  With no archive, or one that cannot be
  used (a conf dir with real files, a caller's own
  ``defaultJavaOptions``), no flag is added and the JVM starts as it
  would without it, so there is no opt-out knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import jvm_archive


# About 11x one lsh_corpus pass (174 classes): room for the registry's
# other keys in one session without evicting the pass (module docstring)
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sweep_conf() -> dict[str, str]:
    """Spark conf pairs from ``ADP_SWEEP_CONF``, the conf-sweep seam of
    the tools: comma-separated ``k=v`` pairs with whitespace stripped.
    Empty segments are ignored.  A segment without ``=`` — what a value
    containing a comma turns into — raises ValueError naming it, instead
    of being dropped."""
    raw = os.environ.get("ADP_SWEEP_CONF", "")
    conf = {}
    for seg in filter(None, (s.strip() for s in raw.split(","))):
        if "=" not in seg:
            raise ValueError(
                f"ADP_SWEEP_CONF segment {seg!r} is not k=v "
                "(a value cannot contain a comma)"
            )
        k, v = seg.split("=", 1)
        conf[k.strip()] = v.strip()
    return conf


def get_spark(
    app_name: str = "atac-data-products-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    # SPARK_GRAFT_MASTER: sweep seam for master URLs that can't ride
    # ADP_SWEEP_CONF's comma-separated k=v list (local-cluster[2,8,8192]
    # contains commas) — used by tools/retry_sweep.py
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * cpus, 64)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd: ~30% smaller than snappy at comparable speed — at 100 TB
        # that is tens of TB of storage and scan IO saved
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Reader contract (docs/OPERATIONS.md): wall-clock parquet
        # TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ and
        # TIMESTAMP(NANOS) as BIGINT nanos.  Session-wide because Spark
        # exposes no per-read option for either; sources/tables.py
        # re-asserts them (ensure_reader_confs) for sessions not built
        # here, e.g. the driver's.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    launch = _cds_launch(extra_conf or {})
    if launch is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    with jvm_archive.spark_conf_dir(launch.conf_dir):
        return builder.getOrCreate()


def _cds_launch(conf: dict[str, str]) -> jvm_archive.Launch | None:
    """The driver JVM's class-data archive launch, when this call starts
    a driver JVM (module docstring); None when it reuses a running one."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    return jvm_archive.plan(conf)
