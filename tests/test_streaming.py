"""Structured Streaming tests: stream result == batch-twin result.

Runs the real readStream file source over the sf0.001 events parquet
with Trigger.AvailableNow into memory sinks, then compares against the
oracle-checked batch queries.
"""

from __future__ import annotations

import pandas as pd
import pytest

from atac_data_products_spark.streaming.events import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)
from tests.conftest import SF_SMALL


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def test_stream_tumbling_equals_batch(spark):
    from atac_data_products_spark.registry_ext import window_tumbling_agg

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    assert stream.isStreaming
    run_to_memory(tumbling_counts(stream), "t_tumbling", mode="complete")
    got = _norm(spark.table("t_tumbling").toPandas())
    want = _norm(window_tumbling_agg(spark, SF_SMALL).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_sliding_equals_batch(spark):
    from pyspark.sql import functions as F

    from atac_data_products_spark.registry_ext import window_sliding_agg

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    sliding = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )
    run_to_memory(sliding, "t_sliding", mode="complete")
    got = _norm(spark.table("t_sliding").toPandas())
    want = _norm(window_sliding_agg(spark, SF_SMALL).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_session_equals_batch(spark):
    from atac_data_products_spark.registry_ext import window_session_agg

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    run_to_memory(session_counts(stream), "t_session", mode="complete")
    got = _norm(spark.table("t_session").toPandas())
    want = _norm(window_session_agg(spark, SF_SMALL).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_static_join(spark):
    from atac_data_products_spark.streaming.events import join_stream_static

    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.5), ("error", 0.0), ("signup", 3.0)],
        "event_type string, weight double",
    )
    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    enriched = join_stream_static(stream, dim).groupBy("event_type").count()
    run_to_memory(enriched, "t_enrich", mode="complete")
    got = {r.event_type: r["count"] for r in spark.table("t_enrich").collect()}
    from atac_data_products_spark.sources.tables import load_table

    want = {
        r.event_type: r["count"]
        for r in load_table(spark, SF_SMALL, "events").groupBy("event_type").count().collect()
    }
    assert got == want


def test_stream_stream_interval_join(spark):
    from atac_data_products_spark.sources.tables import events_with_ts
    from atac_data_products_spark.streaming.events import (
        join_stream_stream_attribution,
    )

    clicks = read_events_stream(spark, f"{SF_SMALL}/events.parquet").filter(
        "event_type = 'click'"
    )
    purchases = read_events_stream(spark, f"{SF_SMALL}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    joined = join_stream_stream_attribution(clicks, purchases)
    assert joined.isStreaming
    run_to_memory(joined, "t_ss_join", mode="append")
    got = spark.table("t_ss_join")

    ev = events_with_ts(spark, SF_SMALL)
    c = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS c_user", "ts AS click_ts", "event_id AS click_id"
    )
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "ts AS purchase_ts", "event_id AS purchase_id"
    )
    from pyspark.sql import functions as F

    want = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
    ).select("purchase_id", "user_id", "click_id")
    got_set = {(r.purchase_id, r.click_id) for r in got.collect()}
    want_set = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert got_set == want_set and len(want_set) > 0


def test_stateful_counts_accumulate_across_batches(spark):
    from atac_data_products_spark.sources.tables import load_table
    from atac_data_products_spark.streaming.events import stateful_user_counts

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    run_to_memory(stateful_user_counts(stream), "t_state", mode="update")
    got = spark.table("t_state").toPandas()
    # final state row per user (update mode: last emitted per user)
    final = got.groupby("user_id")["n_events"].max()
    want = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    assert final.sort_index().astype(int).equals(want.sort_index().astype(int))


def test_stream_dedup_equals_batch(spark):
    from atac_data_products_spark.registry_ext import stream_dedup_exact

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    run_to_memory(dedup_within_watermark(stream), "t_dedup", mode="append")
    got = _norm(spark.table("t_dedup").toPandas())
    want = _norm(stream_dedup_exact(spark, SF_SMALL).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_transform_with_state_running_totals(spark):
    """transformWithStateInPandas (Spark 4 typed-state API) accumulates
    across micro-batches and matches the batch aggregate.

    The TWS python worker speaks protobuf to the JVM state server;
    without the protobuf package the query cannot initialize, so this
    is import-gated the same way as the anndata-backed h5ad codec."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from atac_data_products_spark.sources.tables import load_table
    from atac_data_products_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        stateful_running_totals_tws,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
        run_to_memory(stateful_running_totals_tws(stream), "t_tws", mode="update")
        got = spark.table("t_tws").toPandas()
    finally:
        if old is not None:
            spark.conf.set(provider_key, old)
        else:
            spark.conf.unset(provider_key)
    # update mode re-emits per batch; the final row per user is the total
    final = got.sort_values("n_events").groupby("user_id").last()
    want = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    final = final.sort_index()
    assert final["n_events"].astype(int).equals(want["n_events"].astype(int))
    assert (final["total_value"] - want["total_value"]).abs().max() < 1e-6


def test_stream_ml_score_equals_batch(spark, tmp_path):
    """The Arrow batch-inference seam is streaming-capable: the SAME
    mapInPandas scorer over a file-source stream of embeddings equals
    the batch result (exact — integer-quantized scores)."""
    import os
    from atac_data_products_spark.registry_ext import ml_score_batch

    path = f"{SF_SMALL}/embeddings.parquet"
    stage = str(tmp_path)
    os.symlink(path, os.path.join(stage, "embeddings.parquet"))
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema).parquet(stage).select("vec_id", "embedding")
    )
    assert stream.isStreaming

    batch_df = ml_score_batch(spark, SF_SMALL)
    # reuse the registered query's scorer by re-invoking its mapInPandas
    # over the stream: mapInPandas is supported on streaming frames
    from atac_data_products_spark import registry_ext as rx

    def infer(batches):
        import numpy as np
        import pandas as pd

        w = np.asarray(rx.ML_WEIGHTS, dtype=np.int64)
        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            amax = np.abs(v).max(axis=1)
            safe = np.where(amax == 0, 1.0, amax)
            y = v / safe[:, None] * 127.0
            q = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            q[amax == 0] = 0
            s = q @ w
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "score": s, "predicted": s > 0}
            )

    scored = stream.mapInPandas(infer, "vec_id bigint, score bigint, predicted boolean")
    run_to_memory(scored, "t_ml_score", mode="append")
    got = _norm(spark.table("t_ml_score").toPandas())
    want = _norm(batch_df.toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_cusum_equals_batch(spark):
    """Stateful CUSUM drift (applyInPandasWithState) == the oracle-checked
    batch twin under in-order arrival — the stateful-ANALYTIC streaming
    seam (running float state + extremes, not just a counter)."""
    from pyspark.sql import functions as F

    from atac_data_products_spark.registry_analytics import events_cusum_drift
    from atac_data_products_spark.sources.tables import events_with_ts
    from atac_data_products_spark.streaming.events import stateful_cusum_drift

    # same reference mean (same rounding) as the batch query derives
    mean_v = (
        events_with_ts(spark, SF_SMALL)
        .agg(F.round(F.avg("value"), 6).alias("m"))
        .collect()[0]["m"]
    )
    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    run_to_memory(stateful_cusum_drift(stream, mean_v), "t_cusum", mode="update")
    got = spark.table("t_cusum").toPandas()
    # update mode emits one row per user per micro-batch; the LAST row
    # per user carries the final extremes (single file => one batch here)
    got = got.groupby("user_id").tail(1).reset_index(drop=True)
    want = events_cusum_drift(spark, SF_SMALL).toPandas()
    pd.testing.assert_frame_equal(_norm(got), _norm(want))


def test_stream_ohlc_equals_batch(spark):
    """Streaming min_by/max_by OHLC bars == the oracle-checked batch
    row_number formulation on the same grain — two different physical
    strategies (incremental window state vs sort-based windows) pinned
    to one result."""
    from atac_data_products_spark.registry_analytics import timeseries_resample_ohlc
    from atac_data_products_spark.streaming.events import ohlc_bars

    stream = read_events_stream(spark, f"{SF_SMALL}/events.parquet")
    run_to_memory(ohlc_bars(stream), "t_ohlc", mode="complete")
    got = _norm(spark.table("t_ohlc").toPandas())
    want = _norm(timeseries_resample_ohlc(spark, SF_SMALL).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_join_interval_equals_batch_twin(spark):
    """The streamed stream-stream interval join, aggregated per purchase,
    must reproduce the oracle-checked batch twin stream_join_interval
    (same 10-minute window, same strict upper bound)."""
    from pyspark.sql import functions as F

    from atac_data_products_spark.registry_scale import stream_join_interval

    clicks = read_events_stream(spark, f"{SF_SMALL}/events.parquet").filter(
        "event_type = 'click'"
    )
    purchases = read_events_stream(spark, f"{SF_SMALL}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    ).withWatermark("click_ts", "30 minutes")
    p = purchases.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", "30 minutes")
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")
        ),
        "inner",
    ).select("purchase_id", "cents")
    run_to_memory(joined, "t_ssj_pairs", mode="append")
    got_pairs = spark.table("t_ssj_pairs").toPandas()
    agg = (
        got_pairs.groupby("purchase_id")
        .agg(n_clicks_10m=("cents", "size"), click_cents_10m=("cents", "sum"))
        .reset_index()
    )
    want = stream_join_interval(spark, SF_SMALL).toPandas()
    want_nonzero = want[want.n_clicks_10m > 0].rename(
        columns={"purchase_id": "purchase_id"}
    )
    got = _norm(agg.astype({"n_clicks_10m": "int64", "click_cents_10m": "int64"}))
    pd.testing.assert_frame_equal(got, _norm(want_nonzero))


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Incremental processing with exactly-once file-sink semantics: a
    checkpointed query drains batch 1, is stopped, a new file arrives,
    and the RESTARTED query (same checkpoint) processes ONLY the new
    file — the output holds every input row exactly once.  This is the
    mechanism that replaces the reference's re-read-everything batch
    rebuild (bin/concatenate.py:119-152) with incremental product
    maintenance."""
    import pandas as pd_mod

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)
    full = pd_mod.read_parquet(f"{SF_SMALL}/events.parquet")
    half = len(full) // 2
    full.iloc[:half].to_parquet(f"{src}/part1.parquet")

    schema = spark.read.parquet(src).schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == half

    full.iloc[half:].to_parquet(f"{src}/part2.parquet")
    drain()

    got = spark.read.parquet(out)
    assert got.count() == len(full)
    assert got.select("event_id").distinct().count() == len(full)
