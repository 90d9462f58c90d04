"""Event time, decided in one place.

Every time value the engine reads, computes or returns is
TIMESTAMP_NTZ: a wall-clock reading with no zone attached.
`sources.tables.load_table` returns every timestamp column as NTZ,
whatever the parquet encoding or the session's inference confs, and
this module is the only one that turns a wall clock into a number, an
instant or a bucket. Each helper gives the same value under every
`spark.sql.session.timeZone`, so no result depends on the session's
zone and there is nothing to configure.

Spark's own conversions go through the session zone and must not touch
event time:

- `CAST(ntz AS TIMESTAMP)` reads the wall clock in the session zone, so
  `unix_micros(CAST(ts AS TIMESTAMP))` is off by the zone's offset and a
  `window` over the cast moves the hour buckets in a half-hour zone
  (Asia/Kolkata).
- `timestampdiff(MICROSECOND, <NTZ epoch>, ts)` steps through the zone
  too: at the New York DST gap (2024-03-10 02:30) it is 3600 s off.
- `date_trunc` returns a TIMESTAMP truncated in the session zone.

NTZ − NTZ, `timestampadd` on NTZ, `to_date` of NTZ and `window` over
NTZ are pure wall-clock arithmetic, and the helpers are built from
those. The one place an instant is needed is a streaming watermark
(Spark rejects one on NTZ): `as_instant` maps a wall clock to the
instant that reads the same in UTC, and `as_wall` maps a window or
session start back, so a stream emits wall clocks like a batch query.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _epoch() -> Column:
    return F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")


def _seconds(ts: Column | str) -> Column:
    # NTZ − NTZ is an exact day-time interval; DECIMAL(18, 6) seconds
    # holds it to the µs for ±31,000 years.
    return (_col(ts) - _epoch()).cast("decimal(18,6)")


def epoch_us(ts: Column | str) -> Column:
    """Microseconds from 1970-01-01 00:00:00 to the wall clock `ts`, as
    BIGINT (DuckDB's epoch_us)."""
    return (_seconds(ts) * 1_000_000).cast("long")


def epoch_s(ts: Column | str) -> Column:
    """Whole seconds from the epoch to `ts`, floored, as BIGINT
    (DuckDB's floor(epoch(ts)))."""
    return F.floor(_seconds(ts)).cast("long")


def from_epoch_us(us: Column | str) -> Column:
    """Inverse of `epoch_us`: the wall clock `us` µs after the epoch."""
    return F.timestamp_add("MICROSECOND", _col(us), _epoch())


def as_instant(ts: Column | str) -> Column:
    """The TIMESTAMP whose UTC reading is the wall clock `ts`."""
    return F.timestamp_micros(epoch_us(ts))


def as_wall(ts: Column | str) -> Column:
    """The UTC reading of the TIMESTAMP `ts`, as a wall clock."""
    return from_epoch_us(F.unix_micros(_col(ts)))


def trunc(unit: str, ts: Column | str) -> Column:
    """`date_trunc(unit, ts)` with a wall clock in and out: "hour" on
    the epoch, "day" by date, coarser units ("week" starts on Monday,
    "month") through `trunc` on the date."""
    if unit == "hour":
        s = epoch_s(ts)  # whole seconds: cheaper than epoch_us
        return from_epoch_us((s - F.pmod(s, F.lit(3600))) * 1_000_000)
    day = F.to_date(_col(ts))
    return (day if unit == "day" else F.trunc(day, unit)).cast("timestamp_ntz")


def wall_lit(value: dt.datetime) -> Column:
    """A naive Python datetime as an NTZ literal. `F.lit(datetime)`
    makes a TIMESTAMP read in the Python process's zone instead."""
    return F.lit(value.isoformat(sep=" ")).cast("timestamp_ntz")
