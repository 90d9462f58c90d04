"""Multimodal-column and live-streaming demo queries.

`multimodal_blob_features` is oracle-checked (binary column creation +
byte-level functions exist in both engines). The streaming queries run
REAL Structured Streaming (readStream → watermark → memory sink via
Trigger.AvailableNow) inside the callable — rows-only for the driver,
while tests/test_streaming.py asserts stream == batch equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import as_wall, wall_lit
from dist_keras_spark.operators.multimodal import attach_blob, fake_decode_features
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.sinks import scratch_path
from dist_keras_spark.sources.tables import load_table as _lt
from dist_keras_spark.streaming.pipelines import (
    current_state,
    run_available_now,
    run_foreach_batch_to_parquet,
    run_foreach_batch_upsert,
    stream_events,
    stream_staged,
    streaming_dedup,
    streaming_interval_self_join,
    streaming_session_agg,
    streaming_session_dynamic_agg,
    streaming_sliding_counts,
    streaming_tumbling_counts,
)


@query(
    "multimodal_blob_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text)                  AS blob_md5,
       'image/fake'               AS kind
FROM documents
""",
)
def multimodal_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: opaque binary column + typed metadata; byte length and
    content hash computed on the blob itself (not the source string)."""
    d = attach_blob(_lt(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.octet_length("blob").alias("n_bytes"),
        F.md5("blob").alias("blob_md5"),
        F.col("blob_meta.kind").alias("kind"),
    )


@query(
    "streaming_tumbling_live",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)               AS n,
       round(sum(value), 2)   AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K4/A8/A9 as REAL streaming: readStream over the events
    parquet, watermarked tumbling aggregate, drained with
    Trigger.AvailableNow into a memory sink. Because every event is
    replayed (availableNow) and output mode is complete, the result
    equals the batch aggregate — so the batch oracle applies."""
    stream = streaming_tumbling_counts(stream_events(spark, sf_dir))
    return run_available_now(stream, output_mode="complete")[0]


@query(
    "streaming_session_window_live",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     <= INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_sess
    FROM events
), numbered AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       min(ts)              AS session_start,
       count(*)             AS n,
       round(sum(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, sid
""",
)
def streaming_session_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 as REAL streaming: `F.session_window` (dynamic-gap session
    state, merged as events arrive) over the watermarked stream,
    drained with Trigger.AvailableNow — the live twin of the batch
    `events_session_window`, sharing its gaps-and-islands oracle.
    Session state is keyed (user, open session) and expires past the
    watermark, so state is bounded by ACTIVE sessions, not history —
    the property that makes sessionization viable on an unbounded
    stream."""
    return run_available_now(
        streaming_session_agg(stream_events(spark, sf_dir)), "complete"
    )[0]


@query(
    "streaming_session_dynamic_gap_live",
    oracle="""
WITH g AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN event_type = 'purchase'
                THEN ts + INTERVAL 60 MINUTE
                ELSE ts + INTERVAL 30 MINUTE END AS reach
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN ts <= max(reach) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 0 ELSE 1 END AS new_sess
    FROM g
), numbered AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM numbered GROUP BY user_id, sid
""",
)
def streaming_session_dynamic_gap_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K3 dynamic-gap sessions as REAL streaming: the per-event gap
    expression (purchase holds 60 min, else 30) evaluated inside the
    streaming `session_window` state merge, AvailableNow-drained —
    the live twin of the batch `events_session_dynamic_gap`, sharing
    its running-max gaps-and-islands oracle. The dynamic gap is the
    production shape (per-event-type engagement half-lives); state is
    still bounded by ACTIVE sessions because each open session's
    expiry is the max reach of its events, which the watermark
    eventually passes."""
    return run_available_now(
        streaming_session_dynamic_agg(stream_events(spark, sf_dir)),
        "complete",
    )[0]


@query(
    "streaming_sliding_window_live",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
           AS window_start,
       count(*)             AS n,
       round(sum(value), 2) AS sum_value
FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1
""",
)
def streaming_sliding_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 as REAL streaming: the 1-hour/15-minute sliding aggregate on
    the watermarked stream, AvailableNow-drained — completes the
    live-path trio (tumbling/sliding/session all now run both as batch
    plans and as actual Structured Streaming with the same oracle).
    Sliding state is (4 windows per event) x active keys, expired past
    the watermark."""
    return run_available_now(
        streaming_sliding_counts(stream_events(spark, sf_dir)), "complete"
    )[0]


@query(
    "streaming_interval_join_live",
    oracle="""
SELECT a.user_id AS ua, a.event_id AS eid_a, b.event_id AS eid_b
FROM events a
JOIN events b ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL 5 MINUTE
""",
)
def streaming_interval_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9/K as REAL streaming: watermarked stream-stream self-join with
    time bounds (bounded join state); availableNow replay makes the
    batch range-join SQL its oracle."""
    return run_available_now(
        streaming_interval_self_join(stream_events(spark, sf_dir)), "append"
    )[0]


@query(
    "multimodal_fake_decode",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       8 AS dim,
       round(list_sum(list_transform(range(1, 9),
           i -> ('0x' || substr(sha256(text || ':0'), 2*i - 1, 2))::INT / 256.0)),
           6) AS feature_sum
FROM documents
""",
)
def multimodal_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 decode path: Arrow-batched mapInPandas over the blob column →
    fixed-dim feature vectors (deterministic fake decoder; real codec
    is a drop-in — see operators/multimodal.py).

    SHARP oracle (VERDICT r4 #5): the fake decoder is a counter-mode
    sha256 byte map (operators/multimodal._hash_bytes), so DuckDB
    replays pixel i as hex-pair i of sha256(text || ':0') / 256 —
    byte/256 is an exact binary fraction, so the checksum matches
    bit-for-bit. The driver-facing projection is SCALAR (dim + checksum
    of the vector); pytest asserts the full vectors."""
    d = attach_blob(_lt(spark, sf_dir, "documents"))
    out = fake_decode_features(d, dim=8)
    return out.select(
        "doc_id",
        "n_bytes",
        F.size("feature").alias("dim"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feature_sum"),
    )


@query(
    "streaming_foreachbatch_sink",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
""",
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 foreachBatch path, hash-verified: readStream over events is
    drained through foreachBatch into a parquet sink (the standard
    pattern for sinks without native streaming writers), then the sink
    is aggregated and compared to the batch oracle on the ORIGINAL
    table — availableNow replays every event exactly once, so the sink
    must hold the same multiset. ts excluded (ns-precision gotcha)."""
    import shutil

    path = scratch_path(spark, "foreachbatch_sink")
    shutil.rmtree(path, ignore_errors=True)  # append-mode sink: start clean
    run_foreach_batch_to_parquet(
        stream_events(spark, sf_dir).select("event_id", "event_type", "value"), path
    )
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query("mllib_minhash_neardup")  # MLlib hash functions: rows-only + pytest recall
def mllib_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 alternative path: MLlib MinHashLSH approxSimilarityJoin over
    HashingTF shingle vectors (ML Pipelines interop); pytest gates its
    recall against exact Jaccard."""
    from dist_keras_spark.operators.mllib_lsh import mllib_minhash_pairs

    d = _lt(spark, sf_dir, "documents")
    return mllib_minhash_pairs(d, jaccard_distance=0.2)


@query(
    "streaming_dedup_live",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 as real streaming: watermarked dropDuplicates on event_id.

    Hash-verified: fixture event_ids are unique (checked at sf0.01),
    so the deduped availableNow replay must equal the full table — the
    oracle pins that the stream delivers every event EXACTLY once
    (duplicate or dropped deliveries both hash-mismatch)."""
    return run_available_now(
        streaming_dedup(stream_events(spark, sf_dir)), output_mode="append"
    )[0].select("event_id", "user_id", "event_type")


@query(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id,
       f.frame_idx,
       8 AS dim,
       round(list_sum(list_transform(range(1, 9),
           i -> ('0x' || substr(sha256(text || ':' || f.frame_idx || ':0'),
                                2*i - 1, 2))::INT / 256.0)),
           6) AS feature_sum
FROM documents, (VALUES (0), (2), (4)) f(frame_idx)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 video-shaped path: every-2nd-frame sampling over the blob
    column — one output row per kept frame (mapInPandas emitting a
    different row count than its input), per-frame feature vectors.

    SHARP oracle: n_frames=5 / every=2 keeps frames {0,2,4}; each
    frame's 8 pseudo-pixels are hex-pairs of
    sha256(text || ':' || frame || ':0') / 256 (exact binary fractions
    — see multimodal_fake_decode). Driver projection is scalar (frame
    index + vector checksum), per the canonicalizer convention."""
    from dist_keras_spark.operators.multimodal import attach_blob, sample_frames

    d = attach_blob(_lt(spark, sf_dir, "documents"), n_frames=5)
    out = sample_frames(d, every=2)
    return out.select(
        "doc_id",
        "frame_idx",
        F.size("feature").alias("dim"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feature_sum"),
    )


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id, 4 AS width, 3 AS height FROM documents
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 resize path: nearest-neighbor resample of every decoded blob
    to 4×3. The pixel bytes are fake-decode-dependent (not oracle-able)
    but the id/dimension contract is — the oracle checks one row per
    doc with the declared output dims; pixel math is pytest-gated
    (identity-resize equality, determinism)."""
    from dist_keras_spark.operators.multimodal import attach_blob, resize_media

    d = attach_blob(_lt(spark, sf_dir, "documents"), width=8, height=6)
    return resize_media(d, out_w=4, out_h=3).select("doc_id", "width", "height")


@query(
    "streaming_upsert_sink_live",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def streaming_upsert_sink_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+K5+MERGE as REAL multi-batch streaming: events are staged as
    FOUR parquet files and streamed with maxFilesPerTrigger=1, so
    foreachBatch genuinely fires once per file and each micro-batch
    MERGES into keyed state (latest row per (user, type) by event
    time — streaming/pipelines.run_foreach_batch_upsert). The final
    state must equal the batch latest-per-key oracle no matter how the
    rows were sliced into batches, because the merge orders by EVENT
    time, not arrival — the upsert-sink pattern for serving tables fed
    by streams. State versions publish via _SUCCESS markers, so a
    crashed merge leaves the previous version current."""
    import shutil

    e = _lt(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    src = scratch_path(spark, "upsert_src")
    state = scratch_path(spark, "upsert_state")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    e.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    n_batches = run_foreach_batch_upsert(
        stream, state, key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
    )
    assert n_batches >= 2, f"expected multi-batch replay, got {n_batches}"
    return current_state(spark, state).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "streaming_watermark_late_drop_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS window_start,
       count(*)               AS n,
       round(sum(e.value), 2) AS sum_value
FROM events e, m
WHERE NOT (e.event_id % 10 = 0 AND e.ts < m.mx - INTERVAL 2 HOUR)
  AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR
          <= m.mx - INTERVAL 31 MINUTE
GROUP BY 1
""",
)
def streaming_watermark_late_drop_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 with the watermark ACTUALLY DROPPING late rows — the one
    streaming behavior complete-mode replays can't exercise. Spark's
    stateful operators use TWO watermarks per micro-batch
    (SPARK-39781): the late-event filter for batch N uses batch N−1's
    EVICTION watermark, i.e. a row is judged by the watermark as it
    stood one batch earlier. So a 2-batch staging can never drop
    anything (batch 1's late filter is still at epoch — verified
    empirically: numRowsDroppedByWatermark=0). Three files are staged
    and streamed with maxFilesPerTrigger=1:

      batch 0 — everything except stragglers and bridge rows;
        contains the global max event time by construction (any row
        within 2 h of max is in batch 0), so eviction watermark after
        batch 0 is final: max(ts) − 31 min.
      batch 1 — "bridge" rows (event_id % 10 == 5 AND ts < max − 2 h):
        equally old, but their late filter is batch 0's eviction
        watermark = epoch, so they are ACCEPTED and merged — the
        two-watermark grace period in action.
      batch 2 — stragglers (event_id % 10 == 0 AND ts < max − 2 h):
        late filter is now batch 1's eviction watermark
        = max − 31 min; every straggler's 1-hour window closed at
        least 29 min below it, so ALL of batch 2 is dropped.

    Output mode is APPEND, so only windows finalized below the
    eviction watermark emit: window_end ≤ max − 31 min. Both effects
    (dropped stragglers, unemitted trailing windows) are replicated by
    the batch oracle's two predicates — if the engine failed to drop
    late data, accepted-bridge counts or straggler windows would
    mismatch the hash. The 31-minute delay guarantees the watermark
    never lands exactly on an hour boundary (fixture timestamps carry
    µs noise), so `<` vs `≤` eviction semantics cannot flip the
    result.

    Determinism: `stream_staged` pins the batch order; the watermark
    is final after batch 0, so later flush batches cannot change the
    emitted set. Scale: state is bounded by OPEN windows only —
    exactly what the watermark is for at 100 TB/day ingest."""
    import datetime as dt

    e = _lt(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    mx = e.agg(F.max("ts")).first()[0]
    old = F.col("ts") < wall_lit(mx - dt.timedelta(hours=2))
    straggler = (F.col("event_id") % 10 == 0) & old
    bridge = (F.col("event_id") % 10 == 5) & old
    stream = stream_staged(
        spark,
        "wm_late",
        [
            e.filter(~straggler & ~bridge),
            e.filter(bridge),
            e.filter(straggler),
        ],
    )
    agg = (
        stream.withWatermark("ts", "31 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    res, q = run_available_now(agg, "append")
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) >= 3, (
        f"expected >=3 data micro-batches, got {len(progress)}"
    )
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped > 0, "watermark dropped nothing — staging broke"
    return res.select(
        as_wall("window.start").alias("window_start"), "n", "sum_value"
    )


@query(
    "streaming_two_level_window_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events),
l1 AS (
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS s15, event_type,
           count(*) AS n1,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events GROUP BY 1, 2
)
SELECT CAST(date_trunc('hour', s15) AS TIMESTAMP) AS window_start,
       CAST(sum(n1) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS cents,
       count(*) AS n_subwindows
FROM l1, m
WHERE date_trunc('hour', s15) + INTERVAL 1 HOUR <= m.mx - INTERVAL 31 MINUTE
GROUP BY 1
""",
)
def streaming_two_level_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators (Spark 3.4+ multiple-stateful-
    operator support): a 15-minute windowed aggregate RE-AGGREGATED
    into 1-hour windows inside ONE streaming query —
    `window(window_time(w), '1 hour')` over the first aggregate's
    window column, watermark propagated through both state stores.
    This is the streaming rollup pyramid (minute → hour → day) that
    previously required one job per level chained through storage;
    here the engine manages both levels' state and emits each hourly
    window exactly once.

    Emission determinism: append mode emits a level-2 window only
    when the PROPAGATED watermark passes its end. Two staged files —
    all events (holds the global max ts), then an EMPTY file — give
    exactly two micro-batches: batch 0 accepts everything (its late
    filter is the epoch watermark, SPARK-39781 two-watermark
    semantics), and the empty batch 1 advances emission to the final
    watermark max(ts) − 31 min. The oracle replays that cutoff as a
    plain predicate: hourly windows with end ≤ max − 31 min. The
    31-minute delay keeps the watermark off hour boundaries (µs
    fixture noise), so <-vs-≤ eviction semantics cannot flip the
    emitted set.

    Scale: level-1 state is (15-min window × type) rows, level-2 one
    row per open hour — both bounded by the watermark horizon, which
    is the whole point of running the pyramid inside the engine.
    Aggregates carry integer cents; n_subwindows counts the 15-min
    buckets feeding each hour (≤ 4 × types)."""
    e = _lt(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    stream = stream_staged(spark, "two_level", [e, e.filter(F.lit(False))])
    l1 = (
        stream.withWatermark("ts", "31 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    l2 = (
        l1.groupBy(F.window(F.window_time("w"), "1 hour").alias("w2"))
        .agg(
            F.sum("n1").alias("n_events"),
            F.sum("cents").alias("cents"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
    )
    res, q = run_available_now(l2, "append")
    n_state_ops = max(
        (len(p["stateOperators"]) for p in q.recentProgress), default=0
    )
    assert n_state_ops >= 2, (
        f"expected 2 chained stateful operators, saw {n_state_ops}"
    )
    return res.select(
        as_wall("w2.start").alias("window_start"),
        "n_events",
        "cents",
        "n_subwindows",
    )


@query(
    "streaming_left_outer_join_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT a.user_id AS ua, a.event_id AS eid_a, b.event_id AS eid_b
FROM events a
JOIN events b ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL 5 MINUTE
UNION ALL
SELECT e.user_id AS ua, e.event_id AS eid_a, NULL AS eid_b
FROM events e, m
WHERE NOT EXISTS (
    SELECT 1 FROM events b
    WHERE b.user_id = e.user_id AND e.event_id < b.event_id
      AND b.ts >= e.ts AND b.ts <= e.ts + INTERVAL 5 MINUTE)
  AND e.ts + INTERVAL 5 MINUTE < m.mx - INTERVAL 10 MINUTE
""",
)
def streaming_left_outer_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, live: matched pairs
    emit like the inner join; an UNMATCHED left row emits with NULLs
    only once the watermark proves no match can still arrive (its
    5-minute match window closed below the eviction watermark). That
    emission happens during state cleanup of a LATER batch — so the
    source is staged as two files (the second re-delivers the oldest
    slice, accepted under the two-watermark grace period), guaranteeing
    a cleanup pass with the final watermark max(ts) − 10 min.

    The oracle replicates both halves exactly: the inner pairs, plus
    NOT-EXISTS lefts whose window end < max − 10 min (lefts expiring
    above that stay in state forever and must NOT appear). µs noise in
    the fixture keeps every boundary strict, so eviction's `<` vs `≤`
    cannot flip a row.

    Scale: join state is bounded by the time constraint on BOTH sides
    (the only outer join that survives unbounded streams); cleanup is
    watermark-driven, no manual TTLs."""
    import datetime as dt

    e = _lt(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    mx = e.agg(F.max("ts")).first()[0]
    old = (F.col("event_id") % 3 == 1) & (
        F.col("ts") < wall_lit(mx - dt.timedelta(hours=1))
    )
    stream = stream_staged(spark, "soj", [e.filter(~old), e.filter(old)])
    a = stream.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", "10 minutes")
    b = stream.select(
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
    out = a.join(b, cond, "leftOuter").select("ua", "eid_a", "eid_b")
    res, q = run_available_now(out, "append")
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 2, f"expected >=2 data micro-batches, got {n_batches}"
    assert res.filter(F.col("eid_b").isNull()).limit(1).count() == 1, (
        "no null-extended rows emitted — outer-join state cleanup never ran"
    )
    return res


@query(
    "arrow_blob_stats",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       -- first BYTE of the utf-8 encoding (hex prefix → int), NOT the
       -- first code point: ascii(substring(text,1,1)) diverges from
       -- the Spark side's byte slice on any non-ASCII leading char
       -- (ADVICE r6) — byte-based on both sides by construction now.
       -- (nullif: empty text → NULL, matching index_in on b'')
       CAST(('0x' || nullif(left(hex(encode(text)), 2), '')) AS INT)
           AS first_byte,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_words
FROM documents
""",
)
def arrow_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-family completion: `mapInArrow` — the ZERO-COPY Python
    boundary. Batches arrive as pyarrow RecordBatch (no pandas
    conversion, no object boxing); byte lengths, first bytes and
    space counts are computed with pyarrow.compute kernels on the
    binary/string arrays directly. This is the right API tier for
    byte-level media work at 100 TB: pandas adds a copy + dtype
    coercion per batch that Arrow-native code skips.

    The blob is the utf-8 encoding of `text` (fixtures ship no real
    media), so every statistic is exactly replayable in SQL — the
    protocol under test is the Arrow batch path, not the math."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = attach_blob(_lt(spark, sf_dir, "documents")).select(
        "doc_id", "blob", "text"
    )

    def stats(batches):
        for batch in batches:
            blob = batch.column("blob")
            text = batch.column("text")
            n_bytes = pc.binary_length(blob)
            # first byte via index_in against the 256-byte dictionary
            # (no binary->list cast kernel exists; the dictionary index
            # IS the byte value)
            byte_dict = pa.array([bytes([i]) for i in range(256)], pa.binary())
            first = pc.index_in(pc.binary_slice(blob, 0, 1), value_set=byte_dict)
            n_words = pc.add(
                pc.count_substring(text, " "), pa.scalar(1, pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(n_bytes, pa.int32()),
                    pc.cast(first, pa.int32()),
                    pc.cast(n_words, pa.int64()),
                ],
                names=["doc_id", "n_bytes", "first_byte", "n_words"],
            )

    return d.mapInArrow(
        stats, "doc_id long, n_bytes int, first_byte int, n_words long"
    )


@query(
    "streaming_full_outer_join_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT a.user_id AS ua, a.event_id AS eid_a, b.event_id AS eid_b
FROM events a
JOIN events b ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL 5 MINUTE
UNION ALL
SELECT e.user_id AS ua, e.event_id AS eid_a, NULL AS eid_b
FROM events e, m
WHERE NOT EXISTS (
    SELECT 1 FROM events b
    WHERE b.user_id = e.user_id AND e.event_id < b.event_id
      AND b.ts >= e.ts AND b.ts <= e.ts + INTERVAL 5 MINUTE)
  AND e.ts + INTERVAL 5 MINUTE < m.mx - INTERVAL 10 MINUTE
UNION ALL
SELECT e.user_id AS ua, NULL AS eid_a, e.event_id AS eid_b
FROM events e, m
WHERE NOT EXISTS (
    SELECT 1 FROM events a
    WHERE a.user_id = e.user_id AND a.event_id < e.event_id
      AND e.ts >= a.ts AND e.ts <= a.ts + INTERVAL 5 MINUTE)
  AND e.ts < m.mx - INTERVAL 10 MINUTE
""",
)
def streaming_full_outer_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join, live — both sides
    null-extend once the watermark proves no counterpart can arrive.
    The two emission cuts differ because the time constraint is
    asymmetric: a LEFT row's match window is [ts_a, ts_a+5min] (so it
    expires when ts_a+5min clears the watermark) while a RIGHT row can
    only be matched by an EARLIER-or-equal left (ts_a ∈ [ts_b−5min,
    ts_b]), so it expires as soon as ts_b itself clears. The oracle
    spells out all three legs: inner matches, NOT-EXISTS lefts below
    cut A, NOT-EXISTS rights below cut B.

    Same two-file staging as the left-outer query (the second batch
    guarantees a state-cleanup pass at the final watermark); µs noise
    keeps every boundary strict. Completes the streaming join matrix:
    inner / left outer / full outer, all watermark-bounded state."""
    import datetime as dt

    e = _lt(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    mx = e.agg(F.max("ts")).first()[0]
    old = (F.col("event_id") % 3 == 1) & (
        F.col("ts") < wall_lit(mx - dt.timedelta(hours=1))
    )
    stream = stream_staged(spark, "foj", [e.filter(~old), e.filter(old)])
    a = stream.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", "10 minutes")
    b = stream.select(
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
    out = a.join(b, cond, "fullOuter").select(
        F.coalesce("ua", "ub").alias("ua"), "eid_a", "eid_b"
    )
    res, _ = run_available_now(out, "append")
    assert res.filter(F.col("eid_a").isNull()).limit(1).count() == 1, (
        "no right-null rows emitted"
    )
    assert res.filter(F.col("eid_b").isNull()).limit(1).count() == 1, (
        "no left-null rows emitted"
    )
    return res


@query(
    "streaming_join_then_window_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events),
pairs AS (
    SELECT a.ts AS ts_a, b.value AS val_b
    FROM events a
    JOIN events b ON a.user_id = b.user_id
                 AND a.event_id < b.event_id
                 AND b.ts >= a.ts
                 AND b.ts <= a.ts + INTERVAL 5 MINUTE
)
SELECT CAST(time_bucket(INTERVAL '30 minutes', ts_a) AS TIMESTAMP)
           AS window_start,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(val_b * 100) AS BIGINT)) AS BIGINT) AS cents_b
FROM pairs, m
WHERE time_bucket(INTERVAL '30 minutes', ts_a) + INTERVAL 30 MINUTE
      <= m.mx - INTERVAL 31 MINUTE
GROUP BY 1
""",
)
def streaming_join_then_window_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Third chained-stateful composition (after the rollup pyramid
    and dynamic-gap sessions): a stream-stream INTERVAL JOIN feeding a
    WINDOWED AGGREGATION in ONE streaming query — two state stores,
    join state bounded by the 5-minute time constraint on both sides,
    agg state by the watermark horizon. This is the streaming funnel
    metric (pair events, then rate them per half-hour) that
    pre-Spark-3.4 required two jobs chained through storage.

    Emission determinism (probed, not assumed): the watermark
    PROPAGATES THROUGH THE JOIN UN-SHIFTED — after the empty batch the
    downstream agg's watermark is exactly max(ts) − 31 min (Spark
    truncates to ms; SPARK-39781 separates late-row filtering from
    state eviction, so the join's 5-minute interval does NOT subtract
    from the propagated value). Inner-join pairs all emit in batch 0
    (the late filter there is the epoch watermark); the empty batch 1
    advances the agg watermark, emitting every 30-minute window whose
    end ≤ max − 31 min. Window ends are whole minutes while max(ts)
    carries µs fixture noise, so the ms truncation can never flip a
    boundary. The oracle replays the pairs then the cutoff predicate.

    Scale: join state ≈ rows within a 5-min + watermark horizon per
    side; agg state one row per open 30-min window. Both
    watermark-evicted — no manual TTL, no unbounded state."""
    e = _lt(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    stream = stream_staged(spark, "jwa", [e, e.filter(F.lit(False))])
    a = stream.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("eid_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", "31 minutes")
    b = stream.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("eid_b"),
        F.col("ts").alias("ts_b"),
        F.col("value").alias("val_b"),
    ).withWatermark("ts_b", "31 minutes")
    cond = (
        (F.col("ua") == F.col("ub"))
        & (F.col("eid_a") < F.col("eid_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
    )
    l2 = (
        a.join(b, cond, "inner")
        .groupBy(F.window("ts_a", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.floor(F.col("val_b") * 100).cast("long")).alias(
                "cents_b"
            ),
        )
    )
    res, q = run_available_now(l2, "append")
    n_state_ops = max(
        (len(p["stateOperators"]) for p in q.recentProgress), default=0
    )
    assert n_state_ops >= 2, (
        f"expected join + agg state operators, saw {n_state_ops}"
    )
    return res.select(
        as_wall("w.start").alias("window_start"), "n_pairs", "cents_b"
    )


@query(
    "streaming_dedup_then_window_live",
    oracle="""
WITH m AS (SELECT max(ts) AS mx FROM events),
d AS (
    SELECT DISTINCT ON (event_id) event_id, ts, value
    FROM events ORDER BY event_id, ts
)
SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
           AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM d, m
WHERE time_bucket(INTERVAL '30 minutes', ts) + INTERVAL 30 MINUTE
      <= m.mx - INTERVAL 31 MINUTE
GROUP BY 1
""",
)
def streaming_dedup_then_window_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fourth chained-stateful composition: dropDuplicates state
    FEEDING a windowed aggregation in one streaming query — the
    at-least-once-source → exactly-once-metrics pipeline (dedup by
    event_id inside the watermark, then 30-minute rollups). The
    source is staged with every event DUPLICATED (union of the full
    file with itself, split across two files) so the dedup state
    provably does work — without it every count doubles and the
    oracle hash fails.

    Emission: dropDuplicates emits first-arrival rows immediately;
    the downstream agg holds windows until the PROPAGATED watermark
    (un-shifted through dedup, like the join probe) passes their
    end after the final empty batch: cutoff = max(ts) − 31 min,
    replayed by the oracle as a predicate. ONE withWatermark before
    the dedup serves both operators — Spark disallows redefining the
    watermark between chained stateful operators. DuckDB's DISTINCT
    ON (event_id) ORDER BY ts mirrors keep-first semantics; fixture
    event rows are unique per event_id, so duplicate arrival order
    cannot change the kept row.

    Scale: dedup state is bounded by the watermark horizon; agg
    state one row per open window."""
    e = _lt(spark, sf_dir, "events").select("event_id", "ts", "value")
    stream = stream_staged(spark, "ddw", [e, e, e.filter(F.lit(False))])
    deduped = stream.withWatermark("ts", "31 minutes").dropDuplicates(
        ["event_id"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    res, q = run_available_now(agg, "append")
    n_state_ops = max(
        (len(p["stateOperators"]) for p in q.recentProgress), default=0
    )
    assert n_state_ops >= 2, (
        f"expected dedup + agg state operators, saw {n_state_ops}"
    )
    dedup_dropped = sum(
        op.get("numRowsDroppedByWatermark", 0) + op.get("numRowsUpdated", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dedup_dropped > 0, "state operators saw no rows — staging broke"
    return res.select(
        as_wall("w.start").alias("window_start"), "n_events", "cents"
    )
