"""Streaming pipelines over the `events` fixture.

`stream_events` reads the events parquet as an unbounded source
(availableNow processing of existing files = deterministic replay);
each pipeline applies a watermark and the same expressions as the
batch twin. `stream_staged` replays a list of DataFrames as a file
stream, one micro-batch each, for the queries whose watermark behaviour
depends on how rows are split into batches. `run_available_now` drains
a pipeline into a memory sink and returns the result table and the
finished query — used by tests and the streaming demo queries.

At scale: watermark bounds state; session/tumbling state is keyed by
(window, key) and expires past the watermark — the standard 100 TB
streaming posture (no unbounded state).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.time import as_instant, as_wall


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source with the batch loader's ts
    normalization (sources.tables.normalize_ts), then `ts` as an
    instant: watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    on TIMESTAMP_NTZ). The pipelines below emit their window and
    session starts back through `as_wall`."""
    from ..sources.tables import normalize_ts, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # FileStreamSource needs a directory; glob-filter down to the table
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw).withColumn("ts", as_instant("ts"))


def stream_staged(
    spark: SparkSession, name: str, batches: list[DataFrame]
) -> DataFrame:
    """Replay `batches` as a file stream, one micro-batch per DataFrame,
    in list order, with `ts` as an instant (see `stream_events`).

    Each DataFrame becomes one parquet file under `scratch_path(spark,
    name)`. FileStreamSource takes files oldest first, so the files get
    increasing names AND modification times (100 s apart, in the past);
    maxFilesPerTrigger=1 then makes each file its own micro-batch. An
    empty DataFrame stages an empty file, which still runs a batch and
    so advances the watermark."""
    import glob
    import os
    import shutil

    from ..sources.sinks import scratch_path

    src = scratch_path(spark, name)
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    now = os.stat(src).st_mtime
    for i, df in enumerate(batches):
        tmp = scratch_path(spark, f"{name}_tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        dest = os.path.join(src, f"batch{i:03d}.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
        mtime = now - 100 * (len(batches) - i)
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return stream.withColumn("ts", as_instant("ts"))


def streaming_tumbling_counts(events: DataFrame) -> DataFrame:
    """K1+K4: watermarked tumbling 1-hour aggregate (twin of
    plans/events_time.events_tumbling_hourly)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(as_wall("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def streaming_sliding_counts(events: DataFrame) -> DataFrame:
    """K2+K4: watermarked SLIDING 1-hour/15-minute aggregate (twin of
    plans/events_time.events_sliding_window) — each event feeds 4
    overlapping windows; state per (window, key) expires past the
    watermark like the tumbling case."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(as_wall("w.start").alias("window_start"), "n", "sum_value")
    )


def streaming_session_agg(events: DataFrame) -> DataFrame:
    """K3: watermarked session windows (30-minute gap) per user."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id", as_wall("w.start").alias("session_start"), "n", "sum_value")
    )


def streaming_session_dynamic_agg(events: DataFrame) -> DataFrame:
    """K3 extension: session windows with a PER-EVENT gap on the
    stream — purchases hold the session open 60 minutes, everything
    else 30 (the dynamic-gap `session_window` form; twin of the batch
    plans/events_time.events_session_dynamic_gap)."""
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", as_wall("w.start").alias("session_start"), "n", "sum_value"
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """K5: streaming dropDuplicates on event_id within the watermark."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])


def streaming_stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """K6: stream ⋈ static dimension (broadcast)."""
    return (
        events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def streaming_interval_self_join(events: DataFrame) -> DataFrame:
    """C9/K: stream-stream self-join with time bounds — pairs of events
    by the same user within 5 minutes of each other. Both sides are
    watermarked so Spark can expire join state (bounded-state join,
    the only kind that survives at stream scale)."""
    a = events.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", "10 minutes")
    b = events.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("eid_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", "10 minutes")
    cond = (
        (F.col("ua") == F.col("ub"))
        & (F.col("eid_a") < F.col("eid_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
    )
    return a.join(b, cond).select("ua", "eid_a", "eid_b")


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    state_path: str,
    key_cols: list[str],
    order_cols: list[str],
) -> int:
    """A9+MERGE: drain a stream through foreachBatch, UPSERTING each
    micro-batch into keyed state — latest row per `key_cols`, "latest"
    decided by `order_cols` (EVENT order, not arrival order, so the
    final state is identical however the source sliced the batches —
    the merge is commutative, which is what makes foreachBatch's
    at-least-once redelivery harmless here). Each merge writes a NEW
    state version directory; `current_state` reads the highest version
    carrying a _SUCCESS marker, so a crash mid-merge leaves the
    previous version current (never a torn table) — the exactly-once
    recipe for sinks without transactional writers. Returns the number
    of micro-batches processed."""
    from pyspark.sql import Window as W

    n_batches = [0]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        spark = batch_df.sparkSession
        state = current_state(spark, state_path)
        merged_in = (
            state.unionByName(batch_df) if state is not None else batch_df
        )
        w = W.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        merged = (
            merged_in.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # the _SUCCESS marker lands last: incomplete writes are
        # invisible to current_state
        merged.write.mode("overwrite").parquet(
            f"{state_path}/v{n_batches[0]:05d}"
        )

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches[0]


def current_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Highest COMPLETE (_SUCCESS-marked) state version, else None."""
    import glob
    import os

    done = sorted(
        d
        for d in glob.glob(f"{state_path}/v*")
        if os.path.exists(f"{d}/_SUCCESS")
    )
    return spark.read.parquet(done[-1]) if done else None


def run_foreach_batch_to_parquet(stream_df: DataFrame, path: str) -> None:
    """A9: drain a stream via foreachBatch into a parquet sink —
    the standard pattern for sinks without native streaming writers."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete"
) -> tuple[DataFrame, StreamingQuery]:
    """Drain a streaming DataFrame with Trigger.AvailableNow into a
    memory sink; returns the materialized result (A9) and the finished
    query, whose `recentProgress` shows what each micro-batch did."""
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name), q
