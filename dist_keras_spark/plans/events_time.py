"""Event-time queries over `events` (SURVEY.md §2.K batch equivalents).

Each of these is the *batch* expression of a streaming operator; the
same plans run under Structured Streaming (see
dist_keras_spark/streaming/) with `readStream` + watermarks — Spark's
unified batch/stream semantics guarantee the results agree, which is
exactly what the DuckDB oracle checks here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import epoch_us, trunc
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "events_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*)               AS n,
       round(sum(value), 2)   AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: tumbling 1-hour window aggregate (epoch-aligned, equal to
    date_trunc('hour'))."""
    e = _lt(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "events_sliding_window",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
           AS window_start,
       count(*)             AS n,
       round(sum(value), 2) AS sum_value
FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: sliding window (1 hour, 15-minute slide) — each event lands
    in 4 overlapping windows; the oracle replays that expansion with
    UNNEST."""
    e = _lt(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@query(
    "events_session_window",
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
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: session windows (30-minute gap) per user; oracle is the
    classic gaps-and-islands rewrite (lag + cumulative sum). Boundary
    semantics verified empirically: Spark MERGES events exactly one
    gap apart, hence `<=` in the oracle's same-session condition."""
    e = _lt(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n", "sum_value"
        )
    )


@query(
    "events_dedup_latest",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 shape: keep the latest event per (user, type) — streaming
    dropDuplicates with event-time preference, expressed as a ranked
    window in batch."""
    e = _lt(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "events_stream_static_join",
    oracle="""
SELECT c_mktsegment, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
""",
)
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: stream-static join shape — events ⋈ customer. The static
    side scales with SF so it carries no broadcast hint (AQE
    broadcasts it while it fits; the streaming variant re-plans per
    microbatch the same way)."""
    e = _lt(spark, sf_dir, "events")
    c = _lt(spark, sf_dir, "customer")
    return (
        e.join(c, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "events_retention_cohort",
    oracle="""
WITH first_day AS (
    SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
    FROM events GROUP BY user_id
)
SELECT CAST(f.cohort_day AS DATE) AS cohort_day,
       CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS INT)
           AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN first_day f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day × activity-day
    offset — aggregate-then-join (the cohort table is one row per user
    before re-touching the fact), the canonical product-analytics
    query at fleet scale. first_day is one row PER USER — it scales
    with the user population, so no broadcast hint: both sides shuffle
    on user_id (AQE still broadcasts it when it truly fits)."""
    e = _lt(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    return (
        e.join(first_day, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.to_date("ts"), "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "events_type_share",
    oracle="""
SELECT event_type, n, round(n * 1.0 / sum(n) OVER (), 6) AS share
FROM (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
""",
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + unpartitioned window over the (tiny) aggregate —
    global share per event type."""
    e = _lt(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return agg.select(
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(W.partitionBy()), 6).alias("share"),
    )


@query(
    "events_sessionize_rows",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
FROM (
    SELECT event_id, user_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM (
        SELECT event_id, user_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events))
""",
)
def events_sessionize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 row-level twin: gaps-and-islands sessionization — every event
    gets its user-local session NUMBER (new session when >30 min since
    the previous event), the assignment shape `session_window` can't
    produce (it aggregates; this labels rows for downstream joins).
    Gap arithmetic runs on integer epoch-microseconds (epoch_us on
    both sides) so both engines compare exactly. ONE shuffle on user_id;
    both windows share the same partitioning, so Catalyst plans a
    single Exchange + sort."""
    e = _lt(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("us"),
    )
    w_ord = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.select(
        "event_id",
        "user_id",
        "us",
        F.when(
            F.lag("us").over(w_ord).isNull()
            | ((F.col("us") - F.lag("us").over(w_ord)) > 1_800_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_new").over(w_run).cast("int").alias("session_seq"),
    )


@query(
    "events_ohlc_daily",
    oracle="""
WITH keyed AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, value,
           (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000000
           + event_id AS k
    FROM events WHERE event_type = 'purchase'
)
SELECT day,
       round(min_by(value, k), 2) AS open,
       round(max(value), 2)       AS high,
       round(min(value), 2)       AS low,
       round(max_by(value, k), 2) AS close,
       count(*)                   AS n_trades
FROM keyed GROUP BY day
""",
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars — the canonical time-series downsample (open/high/
    low/close per day over purchase values) — WITHOUT a window:
    open/close are min_by/max_by over a uniqueness-packed ordering key
    (µs-within-day · 10⁶ + event_id), so the whole bar is ONE hash
    aggregate with map-side partials — no per-day sort, no row_number,
    no shuffle beyond the day key. Packing bounds: µs-within-day
    < 8.64·10¹⁰, so the key stays under 2⁶³ while event_id < 10⁶
    (fixture max 10⁵; at larger ids switch the tiebreak to a second
    min_by stage). The µs offset is integer arithmetic on the shared
    timestamp in both engines."""
    e = _lt(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    day = trunc("day", "ts")
    k = (epoch_us("ts") - epoch_us(day)) * 1_000_000 + F.col("event_id")
    return (
        e.select(day.cast("date").alias("day"), "value", k.alias("k"))
        .groupBy("day")
        .agg(
            F.round(F.min_by("value", F.col("k")), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", F.col("k")), 2).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


@query(
    "events_time_weighted_avg",
    oracle="""
WITH seq AS (
    SELECT user_id, value,
           epoch_us(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id))
         - epoch_us(ts) AS dur_us
    FROM events
)
SELECT user_id,
       round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
       count(*) AS n_intervals
FROM seq
WHERE dur_us IS NOT NULL
GROUP BY user_id
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user over IRREGULAR samples:
    each observation holds until the next one, so its weight is the
    µs duration to the successor (lead over the per-user timeline;
    the final open-ended observation is excluded). This is the
    correct mean for irregular telemetry — the plain avg() over-weights
    bursts, which is precisely the bias TWAP removes. One window for
    lead (partitioned on the data-scaling user key) + one hash
    aggregate; durations are exact integer µs, values 2dp doubles, so
    the weighted sums are products of identical numbers in both
    engines (6dp-rounded quotient)."""
    e = _lt(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        (F.lead(us).over(w) - us).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return seq.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "events_session_dynamic_gap",
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
    -- ORDER BY (ts, event_id) MUST match the flagged CTE's window:
    -- with ties on ts alone, engine-arbitrary tied-row order would
    -- make session ids nondeterministic (ADVICE r6).
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
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 extension: session windows with a PER-EVENT gap — purchases
    hold a session open for 60 minutes, everything else 30
    (`F.session_window` with a conditional gap expression, Spark's
    dynamic-gap form). Semantically each event claims the interval
    [ts, ts+gap) and overlapping claims merge, so the oracle's
    gaps-and-islands flag is a RUNNING MAX of interval ends — a
    previous long-gap event can bridge past a nearer short-gap one,
    which the plain lag-based rule (fixed-gap oracle) would get wrong.

    Scale: identical to the fixed-gap session plan — one user-keyed
    shuffle, session state merged by the aggregation itself."""
    e = _lt(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n",
            "sum_value",
        )
    )
