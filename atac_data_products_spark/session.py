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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
