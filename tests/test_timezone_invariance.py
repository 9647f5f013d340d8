"""Session-timezone determinism battery.

The synthetic tables store every temporal column as parquet
TIMESTAMP(MICROS) with isAdjustedToUTC=false — Spark reads them as
TIMESTAMP_NTZ wall clocks.  A wall clock has no timezone, so NO query
result may depend on ``spark.sql.session.timeZone``: the engine's
epoch/bucket/window derivations are pure NTZ arithmetic
(sources/tables.py: ts_us_expr / epoch_day_expr / ntz_epoch_us), never
a cast through the session zone.

Two failure shapes this battery exists to catch, both found (and
fixed) by the audit that introduced it:

- ``CAST(ntz AS TIMESTAMP)`` / ``unix_timestamp(ntz)`` anchor the wall
  clock in the SESSION zone — every derived epoch shifts by the zone
  offset (events keys were off by 5 h under America/New_York).
- ``floor(unix_timestamp(date)/86400)`` survives WEST-of-UTC zones
  (positive intra-day remainder floors away) but is off by one day
  under any EAST offset — so the flip zone here is Asia/Kathmandu
  (+05:45), which breaks east-offset day floors AND non-quarter-hour
  window alignment that a round offset would mask.

The pinned production session (session.py) sets UTC; this battery is
about clusters where someone else's conf wins.
"""

from __future__ import annotations

import pytest

from tools.check_correctness import normalize

SF = "/root/testdata/sf0.001"

TZ_CONF = "spark.sql.session.timeZone"
FLIP_TZ = "Asia/Kathmandu"  # +05:45: east offset, non-whole-hour

# Every key that derives calendar/epoch values from the NTZ columns
# (events.ts, orders.o_orderdate, lineitem.l_shipdate), found by
# grepping the registries for temporal functions; plus the Arrow
# sessionize seam (timestamps cross into pandas there).
RISK_KEYS = [
    # events.ts epoch-µs derivations
    "timeseries_resample_ohlc",
    "events_kpi_daily",
    "sessionize_apply_in_pandas",
    # window()/session_window() bucketing over NTZ
    "window_tumbling_agg",
    "window_sliding_agg",
    "window_session_agg",
    # o_orderdate / l_shipdate day-index derivations
    "interval_coverage_profile",
    "customer_rfm_segmentation",
    "join_interval_overlap_banded",
    "supplier_lead_time_profile",
    "stat_kaplan_meier",
    "orders_backlog_snapshot",
    "orders_duplicate_payment_audit",
    "orders_vwap_daily",
    "orders_revenue_bridge",
    "orders_abc_xyz_matrix",
    "orders_otif_rate",
    "stat_diff_in_diff",
    "table_checksum",
    # calendar-field extraction (year/month/quarter — wall-clock-safe
    # by construction, pinned so a refactor can't regress them)
    "growth_month_over_month",
    "time_extract_battery",
    "skyline_pareto_frontier",
    "cohort_ltv_curve",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
]


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as entry

    return spark, entry.queries(), normalize


def _run(spark, fn, tz, normalize):
    saved = spark.conf.get(TZ_CONF)
    try:
        spark.conf.set(TZ_CONF, tz)
        return normalize(fn(spark, SF).toPandas())
    finally:
        spark.conf.set(TZ_CONF, saved)


@pytest.mark.parametrize("key", RISK_KEYS)
def test_result_independent_of_session_timezone(key, harness):
    spark, queries, normalize = harness
    fn = queries[key]
    utc = _run(spark, fn, "UTC", normalize)
    flipped = _run(spark, fn, FLIP_TZ, normalize)
    assert utc.shape == flipped.shape, (
        f"{key}: row/column count changed with session timezone "
        f"({utc.shape} vs {flipped.shape}) — a wall-clock derivation is "
        f"anchored in the session zone"
    )
    if not utc.equals(flipped):
        diff = utc.compare(flipped)
        raise AssertionError(
            f"{key}: values drift with session timezone; first diffs:\n"
            f"{diff.head(10)}"
        )


def test_nanos_physical_type_path(spark, tmp_path):
    """The TIMESTAMP(NANOS) branch: Spark reads nanos as BIGINT
    (nanosAsLong, set by load_table), ts_us_expr integer-DIVs it, and
    events_with_ts rebuilds a TIMESTAMP_NTZ wall clock via
    timestampadd from the NTZ epoch.  No current testdata SF uses
    NANOS, so this path gets a synthetic file — values, dtype, and
    timezone-invariance all pinned."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from atac_data_products_spark.sources.tables import (
        events_with_ts,
        load_table,
        ts_us_expr,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)  # naive wall clock
    rows = [base + datetime.timedelta(microseconds=i * 1_000_001) for i in range(10)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array(rows, pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    raw = load_table(spark, str(tmp_path), "events")
    assert dict(raw.dtypes)["ts"] in ("bigint", "long"), (
        "synthetic file must exercise the nanosAsLong branch; got "
        f"{dict(raw.dtypes)['ts']}"
    )

    epoch_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00 as-if-UTC
    got_us = [
        r.us
        for r in raw.select("event_id", ts_us_expr(raw).alias("us"))
        .orderBy("event_id")
        .collect()
    ]
    assert got_us == [epoch_us + i * 1_000_001 for i in range(10)]

    for tz in ("UTC", FLIP_TZ):
        saved = spark.conf.get(TZ_CONF)
        try:
            spark.conf.set(TZ_CONF, tz)
            ev = events_with_ts(spark, str(tmp_path))
            assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
            walls = [
                r.ts
                for r in ev.orderBy("event_id").collect()
            ]
            assert walls == rows, f"wall clock drifted under session tz {tz}"
        finally:
            spark.conf.set(TZ_CONF, saved)


def test_load_table_pins_ntz_inference(spark):
    """A cluster that sets spark.sql.parquet.inferTimestampNTZ.enabled=
    false would read every wall-clock column as a session-TZ TIMESTAMP
    and silently re-anchor it; load_table pins the conf back, the same
    way it pins nanosAsLong."""
    from atac_data_products_spark.sources.tables import load_table, ts_us_expr

    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    saved = spark.conf.get(conf)
    tz_saved = spark.conf.get(TZ_CONF)
    try:
        spark.conf.set(conf, "false")
        spark.conf.set(TZ_CONF, FLIP_TZ)
        df = load_table(spark, SF, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        lo = df.select(ts_us_expr(df).alias("us")).agg({"us": "min"}).collect()[0][0]
        spark.conf.set(TZ_CONF, "UTC")
        spark.conf.set(conf, "false")
        df2 = load_table(spark, SF, "events")
        lo2 = df2.select(ts_us_expr(df2).alias("us")).agg({"us": "min"}).collect()[0][0]
        assert lo == lo2, "epoch derivation drifted with session tz"
    finally:
        spark.conf.set(conf, saved)
        spark.conf.set(TZ_CONF, tz_saved)
