"""Parquet table scans over the driver's synthetic star schema.

Canonical storage for this engine is Parquet (SURVEY.md §1.4, §4.3):
scans are declarative `spark.read.parquet`, so Catalyst gets predicate
pushdown + column pruning + partition pruning for free — the optimizer
the reference (an eager pandas pipeline) never had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


READER_CONFS = {
    # Wall-clock parquet TIMESTAMP(isAdjustedToUTC=false) must surface
    # as TIMESTAMP_NTZ (the Spark 4 default, but clusters override it):
    # read as a TZ-adjusted TIMESTAMP it would re-anchor in the session
    # zone and break the timezone-invariance contract
    # (docs/OPERATIONS.md, tests/test_timezone_invariance.py).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS), which the parquet reader
    # rejects by default; surface nanos as BIGINT and derive the usable
    # NTZ timestamp via events_with_ts().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_reader_confs(spark: SparkSession) -> None:
    """Assert the engine's two session-level parquet reader settings
    (READER_CONFS).  They are part of the table contract, DOCUMENTED in
    docs/OPERATIONS.md, and set at session bootstrap by
    ``session.get_spark``; this re-asserts them for sessions built
    elsewhere (e.g. the grading driver's).  Session-wide is deliberate,
    not an accident of the read path: Spark exposes no per-read option
    for either (they are consulted by the footer→Catalyst schema
    converter via SQLConf only), and restoring them after ``read`` would
    be wrong anyway — the conf is re-read at PLAN time, i.e. at the
    first action, not inside ``spark.read``.  Check-then-set so the
    steady-state call is a no-op (no conf RPC per table)."""
    for k, v in READER_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Single narrow entry point so partition layout /
    bucketing decisions can later change in one place.  Asserts the
    documented session-level reader contract (see ensure_reader_confs)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_reader_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so the SQL API (`spark.sql`)
    works over the same scans — ANSI text in, identical Catalyst plans
    out."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# The events wall clock is TIMESTAMP_NTZ (parquet MICROS with
# isAdjustedToUTC=false); every epoch derivation anchors it here, in
# pure NTZ arithmetic, so NO key's result depends on
# spark.sql.session.timeZone.  (The earlier `cast("timestamp")` path
# anchored the wall clock in the SESSION zone — oracle-identical under
# the UTC pin, but silently shifted every bucket on a cluster whose
# session tz differed.  tests/test_timezone_invariance.py pins this.)
NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ts_us_expr(df: DataFrame):
    """Microsecond-epoch BIGINT expression for the events `ts` column,
    robust to the parquet physical type AND to the session timezone:
    TIMESTAMP(NANOS) arrives as BIGINT nanos (nanosAsLong) and is
    integer-DIVed — not float-divided, nanosecond epochs exceed
    double's 53-bit mantissa; TIMESTAMP(MICROS) arrives as
    TIMESTAMP_NTZ and diffs against the NTZ epoch (timezone-free, and
    exactly DuckDB's epoch_us over the same naive value); a
    TZ-adjusted TIMESTAMP is already an instant, so unix_micros."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt in ("bigint", "long"):
        return F.expr("ts DIV 1000")
    if dt == "timestamp_ntz":
        return F.expr(f"timestampdiff(MICROSECOND, {NTZ_EPOCH}, ts)")
    return F.unix_micros(F.col("ts"))


def ntz_epoch_us(col_sql: str):
    """Epoch-µs BIGINT from a TIMESTAMP_NTZ column (SQL fragment, so
    nested fields like ``w.start`` work) — pure NTZ arithmetic, never
    the session-timezone unix_micros cast."""
    from pyspark.sql import functions as F

    return F.expr(f"timestampdiff(MICROSECOND, {NTZ_EPOCH}, {col_sql})")


def epoch_day_expr(col):
    """Epoch-day BIGINT from a DATE / TIMESTAMP_NTZ wall-clock column —
    `unix_date` over the TZ-free NTZ→DATE cast, never
    `floor(unix_timestamp(col)/86400)`: unix_timestamp anchors local
    midnight in the SESSION zone, which floors to the previous day
    under any east-of-UTC offset (+05:45 Kathmandu breaks it; UTC−5
    masks it — exactly the kind of latent cluster drift
    tests/test_timezone_invariance.py exists to catch)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.unix_date(c.cast("date")).cast("bigint")


def epoch_day_from_us(us_col, day_us: int = 86_400_000_000):
    """FLOOR-division day index from an epoch-µs BIGINT column, exact
    over the whole int64 range.  Neither `x DIV y` nor a double-divide
    cast is correct: DIV truncates toward zero (pre-1970 instants land
    one day late, diverging from SQL `//` floor semantics), and a bare
    double quotient can round at extreme epochs.  Subtracting
    ``pmod`` (always non-negative) leaves an exact multiple of day_us,
    whose double quotient is exact (day_us carries a 2^10 factor ≥ the
    ulp anywhere in int64 range)."""
    from pyspark.sql import functions as F

    d = F.lit(day_us)
    us = us_col.cast("bigint")
    return ((us - F.pmod(us, d)) / d).cast("bigint")


# DuckDB twin of `ts_us_expr(events)`: the oracle's events views carry
# ts as a naive wall clock, so epoch_us of it is timezone-free
TS_US_SQL = "epoch_us(CAST(ts AS TIMESTAMP))"


def epoch_day_from_us_sql(us_sql: str = TS_US_SQL) -> str:
    """DuckDB twin of :func:`epoch_day_from_us`; the default argument
    makes it the twin of ``epoch_day_from_us(ts_us_expr(events))``.
    DuckDB's `%` takes the dividend's sign, so the remainder is moved
    into [0, d) before it is subtracted: floor, not truncation, for
    pre-1970 instants."""
    d = 86_400_000_000
    return f"(({us_sql} - ({us_sql} % {d} + {d}) % {d}) // {d})"


def ntz_epoch_s(col_sql: str):
    """Epoch-seconds BIGINT from a TIMESTAMP_NTZ column; see
    ntz_epoch_us."""
    from pyspark.sql import functions as F

    return F.expr(f"timestampdiff(SECOND, {NTZ_EPOCH}, {col_sql})")


def events_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` normalized to a µs TIMESTAMP_NTZ wall clock
    regardless of the file's physical type (BIGINT nanos or
    TIMESTAMP(MICROS)).  NTZ — not a session-tz TIMESTAMP — so that
    downstream `window()` / `session_window()` bucketing aligns on the
    wall clock itself and is invariant to spark.sql.session.timeZone
    (Spark aligns windows over TZ-adjusted timestamps to session-LOCAL
    time, which drifts under e.g. +05:45 offsets)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "events")
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        return df
    return (
        df.withColumn("_ts_us", ts_us_expr(df))
        .withColumn("ts", F.expr(f"timestampadd(MICROSECOND, _ts_us, {NTZ_EPOCH})"))
        .drop("_ts_us")
    )
