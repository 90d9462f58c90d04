"""Streaming == batch equivalence (the point of unified semantics),
plus watermark/session/dedup pipeline health."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.plans import QUERIES
from dist_keras_spark.sources.tables import load_table
from dist_keras_spark.streaming.pipelines import (
    run_available_now,
    stream_events,
    streaming_dedup,
    streaming_session_agg,
    streaming_stream_static_join,
    streaming_tumbling_counts,
)


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream_out, _ = run_available_now(
        streaming_tumbling_counts(stream_events(spark, sf_dir)), "complete"
    )
    batch_out = QUERIES["events_tumbling_hourly"](spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)


def test_stream_session_equals_batch(spark, sf_dir):
    stream_out, _ = run_available_now(
        streaming_session_agg(stream_events(spark, sf_dir)), "complete"
    )
    batch_out = QUERIES["events_session_window"](spark, sf_dir)
    cols = ["user_id", "session_start", "n", "sum_value"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)


def test_stream_dedup_keeps_all_unique_ids(spark, sf_dir):
    out, _ = run_available_now(streaming_dedup(stream_events(spark, sf_dir)), "append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events  # event_id already unique → nothing dropped
    assert out.select("event_id").distinct().count() == n_events


def test_stream_static_join_equals_batch(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    stream_out, _ = run_available_now(streaming_stream_static_join(ev, cust), "complete")
    batch_out = QUERIES["events_stream_static_join"](spark, sf_dir)
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)


def test_watermark_present_in_plan(spark, sf_dir):
    s = streaming_tumbling_counts(stream_events(spark, sf_dir))
    assert "EventTimeWatermark" in s._jdf.queryExecution().logical().toString()


def test_upsert_state_ignores_torn_versions(spark, tmp_path):
    """run_foreach_batch_upsert publishes state via _SUCCESS markers;
    a version dir without one (crashed merge) must be invisible."""
    import os

    from dist_keras_spark.streaming.pipelines import current_state

    state = str(tmp_path / "state")
    spark.range(5).write.parquet(f"{state}/v00001")
    spark.range(9).write.parquet(f"{state}/v00002")
    os.remove(f"{state}/v00002/_SUCCESS")  # simulate the crash
    assert current_state(spark, state).count() == 5
    assert current_state(spark, str(tmp_path / "nope")) is None


def test_streaming_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across a RESTART: a dropDuplicates stream writes
    to a parquet sink with a checkpoint; after stopping, a second file
    arrives whose rows OVERLAP the first batch's. Restarting from the
    same checkpoint must (a) not reprocess file A (source offsets
    recovered), and (b) suppress the cross-restart duplicates
    (dedup state recovered) — every event_id appears exactly once in
    the sink. This is the production recovery contract no
    single-lifetime availableNow test exercises."""
    from pyspark.sql import functions as F

    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    a = e.filter((F.col("event_id") % 3 != 0) | (F.col("event_id") % 5 == 0))
    b = e.filter((F.col("event_id") % 3 == 0) | (F.col("event_id") % 5 == 0))
    a.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(e.schema)
            .parquet(src)
            .dropDuplicates(["event_id"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # lifetime 1: file A only
    n_after_a = spark.read.parquet(out).count()
    assert n_after_a == a.count()
    b.coalesce(1).write.mode("append").parquet(src)
    run_once()  # lifetime 2: same checkpoint, file B arrives

    sink = spark.read.parquet(out)
    assert sink.count() == e.count(), "missing or duplicated rows after restart"
    dupes = (
        sink.groupBy("event_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0, "cross-restart duplicates leaked through dedup state"
