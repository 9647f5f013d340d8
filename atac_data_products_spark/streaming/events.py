"""Structured Streaming over the events stream.

The reference is strictly batch (SURVEY.md §2.9) — these are engine
extensions following the standard Spark streaming recipe: file source →
event-time windows + watermark → sinks.  Each streaming aggregation has
a batch twin in registry_ext (window_tumbling_agg / window_session_agg /
stream_dedup_exact) checked against the DuckDB oracle; the streaming
tests assert stream-equals-batch under Trigger.AvailableNow.

Scale notes: watermarks bound state; session windows and dedup keep
per-key state that is dropped past the watermark — the knobs that keep
a 100 TB/day stream's state finite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events with `ts` normalized to a µs
    TIMESTAMP whatever the file's physical type (BIGINT nanos under
    nanosAsLong, or TIMESTAMP(MICROS)) — same handling as the batch
    reader (sources/tables.py::ts_us_expr).

    The streaming file source requires an explicit schema and a
    *directory*; the schema comes from a footer-only batch read of the
    same path, and a single-file path is staged behind a symlink dir so
    the same call works on both.  The symlink dir lives under the
    per-process staging root (registry._staging_dir), removed at exit.
    """
    import os

    from ..registry import _call_dir
    from ..sources.tables import ts_us_expr

    if os.path.isfile(path):
        stage = _call_dir("stream")
        os.makedirs(stage)
        os.symlink(path, os.path.join(stage, os.path.basename(path)))
        path = stage
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return raw.withColumn("ts", F.timestamp_micros(ts_us_expr(raw)))


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """5-minute tumbling counts with late-data watermark (batch twin:
    window_tumbling_agg)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """30-minute-gap session windows per user (batch twin:
    window_session_agg)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exact key dedup with bounded state (batch twin: stream_dedup_exact).

    dropDuplicatesWithinWatermark keeps each key's state only until the
    watermark passes — the streaming-safe version of DISTINCT.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    ).select("user_id", "event_type")


def stateful_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a running per-user event counter whose state survives across
    micro-batches.

    This is the charter's "custom stateful operator" seam — arbitrary
    per-key Python state with Arrow-batched input.  State is one bigint
    per user; with timeouts (GroupStateTimeout) the same shape implements
    TTL'd feature stores, per-entity models, or anomaly trackers.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n_events bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cusum_drift(stream: DataFrame, mean_v: float) -> DataFrame:
    """Streaming CUSUM changepoint screen via applyInPandasWithState —
    the stateful-analytic twin of the batch ``events_cusum_drift``
    (registry_analytics).

    State per user is three doubles: the running cusum and its extremes.
    Each micro-batch sorts its rows by (ts, event_id) and extends the
    running sum with a left-to-right float64 cumsum — the SAME pinned
    fold order as the batch window (ORDER BY ts, event_id ROWS UNBOUNDED
    PRECEDING), so under in-order arrival the emitted extremes are
    bit-compatible with the batch result.  ``mean_v`` is the reference
    mean (in production CUSUM monitors deviation from a *trained*
    reference; the batch twin derives it from the full dataset).

    Ordering caveat, inherent to streaming CUSUM: rows arriving in a
    LATER micro-batch with an EARLIER event time are folded after the
    state they should have preceded.  Bound it operationally with a
    watermark-sized ingest delay; the op itself keeps O(1) state per
    key either way.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            cusum, mx, mn = state.get
        else:
            cusum, mx, mn = 0.0, None, None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            run = (pdf["value"].astype("float64") - mean_v).cumsum() + cusum
            cusum = float(run.iloc[-1])
            bmax, bmin = float(run.max()), float(run.min())
            mx = bmax if mx is None else max(mx, bmax)
            mn = bmin if mn is None else min(mn, bmin)
        state.update((cusum, mx, mn))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "max_cusum": [round(mx, 6)],
                "min_cusum": [round(mn, 6)],
                "max_abs_cusum": [round(max(abs(mx), abs(mn)), 6)],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, max_cusum double, min_cusum double, "
            "max_abs_cusum double"
        ),
        stateStructType="cusum double, max_cusum double, min_cusum double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_bars(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming 15-minute OHLC bars per event type (batch twin:
    timeseries_resample_ohlc).

    open/close are ``min_by``/``max_by`` over the (ts, event_id) struct —
    declarative aggregates that run incrementally inside the watermarked
    window state, where the batch twin's row_number formulation would
    need a full sort.  Same (type, bucket) grain, same tie-break."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
        )
        .select(
            (F.unix_timestamp(F.col("w.start")) * 1_000_000).alias("bucket_us"),
            "event_type",
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
    )


def join_stream_static(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch hash-joins against
    the (broadcastable) static dimension — no streaming state at all."""
    return stream.join(F.broadcast(dim), "event_type", "inner")


def join_stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    interval: str = "30 minutes",
    lateness: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user clicks
    within the preceding ``interval``.  Watermarks on BOTH sides + the
    time-range predicate bound the join state (rows older than watermark
    + interval are evicted) — without them a stream-stream join's state
    grows forever.

    ``interval`` (the attribution window) and ``lateness`` (how late
    events may arrive before being dropped) are distinct durations:
    state retention is roughly lateness + interval.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", lateness)
    p = purchases.select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    ).withWatermark("purchase_ts", lateness)
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {interval}")),
        "inner",
    ).select("purchase_id", "user_id", "click_id")


def run_to_memory(result: DataFrame, table_name: str, mode: str = "complete") -> None:
    """Drain a streaming frame into an in-memory sink with AvailableNow
    (test/verification harness)."""
    q = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_running_totals_tws(stream: DataFrame) -> DataFrame:
    """Per-user running (count, total) via transformWithStateInPandas —
    the Spark 4 arbitrary-state API (successor to applyInPandasWithState).

    Differences that matter at scale: typed state primitives (value/
    list/map state) instead of one opaque tuple, per-state TTL, timers,
    and the RocksDB state store requirement — state lives off-heap and
    spills to disk, so per-key state count is bounded by disk, not
    executor memory.  Queries must run with
    ``spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider``, and the Python worker needs
    the ``protobuf`` package (its control channel to the JVM state
    server) — absent here, so the runtime path is import-gated in
    tests; applyInPandasWithState (stateful_user_counts above) is the
    fully-exercised stateful seam in this environment.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, total = self._agg.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )
