"""Results must not depend on the session's timezone.

`functions/time.py` is the one module that converts a wall clock
(TIMESTAMP_NTZ); these tests pin that its helpers give the same values
in every zone, and that the queries whose time arithmetic goes through
them still match their oracle when the session runs in Asia/Kolkata (a
half-hour offset, so a zone-bound hour bucket would move).
"""

from __future__ import annotations

import datetime as dt
import pathlib
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import (
    as_instant,
    as_wall,
    epoch_s,
    epoch_us,
    from_epoch_us,
    trunc,
    wall_lit,
)
from dist_keras_spark.plans import ORACLE, QUERIES
from dist_keras_spark.sources.tables import TABLE_NAMES

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

from verify_local import _fingerprint  # noqa: E402

# Does not exist in New York: clocks jump from 02:00 to 03:00.
DST_GAP = dt.datetime(2024, 3, 10, 2, 30, 0, 123456)
WALLS = [
    DST_GAP,
    dt.datetime(2024, 1, 1, 10, 10),
    dt.datetime(2024, 1, 1, 10, 50),
    dt.datetime(1969, 12, 31, 23, 59, 59, 500000),
]


def _us(wall: dt.datetime) -> int:
    return (wall - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


@pytest.mark.parametrize("zone", ["America/New_York", "Asia/Kolkata"])
def test_time_helpers_ignore_the_session_zone(spark, session_tz, zone):
    session_tz(zone)
    df = spark.createDataFrame(list(enumerate(WALLS)), "i int, ts timestamp_ntz")
    rows = df.select(
        "i",
        epoch_us("ts").alias("us"),
        epoch_s("ts").alias("s"),
        F.unix_micros(as_instant("ts")).alias("instant_us"),
        from_epoch_us(epoch_us("ts")).alias("back"),
        as_wall(as_instant("ts")).alias("round_trip"),
        trunc("hour", "ts").alias("hour"),
        as_wall(F.window(as_instant("ts"), "1 hour").start).alias("bucket"),
        trunc("day", "ts").alias("day"),
        trunc("month", "ts").alias("month"),
        (F.col("ts") == wall_lit(DST_GAP)).alias("is_gap"),
    ).orderBy("i").collect()
    for wall, r in zip(WALLS, rows):
        assert r.us == r.instant_us == _us(wall), wall
        assert r.s == _us(wall) // 1_000_000, wall
        assert r.back == r.round_trip == wall
        assert r.hour == r.bucket == wall.replace(minute=0, second=0, microsecond=0)
        assert r.day == wall.replace(hour=0, minute=0, second=0, microsecond=0)
        assert r.month == r.day.replace(day=1)
        assert r.is_gap == (wall == DST_GAP)
    # 10:10 and 10:50 share one hour bucket
    assert rows[1].bucket == rows[2].bucket


# Every query whose time arithmetic or time output goes through
# functions/time.py, plus the window/session queries that use
# Spark's NTZ windows directly.
KOLKATA_QUERIES = (
    "regression_trend_slope",
    "scalar_calendar_arithmetic",
    "events_hourly_gapfill",
    "interpolate_linear_gaps",
    "events_session_window",
    "drift_chi2_daily",
    "win_range_frame",
    "join_range_binned",
    "join_asof_forward",
    "join_asof_nearest",
    "events_session_bounce_rate",
    "win_reset_running_sum",
    "attribution_linear_touch",
    "events_sessionize_rows",
    "events_ohlc_daily",
    "events_time_weighted_avg",
    "sessionize_with_cap",
    "streaming_tumbling_live",
    "streaming_session_window_live",
    "streaming_session_dynamic_gap_live",
    "streaming_sliding_window_live",
    "streaming_watermark_late_drop_live",
    "streaming_two_level_window_live",
    "streaming_left_outer_join_live",
    "streaming_join_then_window_live",
    "streaming_dedup_then_window_live",
    "streaming_enrich_then_window_live",
    "streaming_capped_sessions_live",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", KOLKATA_QUERIES)
def test_time_query_matches_oracle_in_kolkata(spark, sf_dir, session_tz, duck, name):
    session_tz("Asia/Kolkata")
    sdf = QUERIES[name](spark, sf_dir)
    got = _fingerprint(list(sdf.columns), [tuple(r) for r in sdf.collect()])
    res = duck.execute(ORACLE[name])
    want = _fingerprint([d[0] for d in res.description], res.fetchall())
    assert got[:2] == want[:2]
    assert got[2] == want[2], [(a, b) for a, b in zip(got[2], want[2]) if a != b][:3]
