"""K7: custom stateful per-key streaming (SURVEY.md §2.K).

`running_user_totals` keeps (count, sum) state per user with
applyInPandasWithState — arbitrary stateful logic beyond built-in
aggregates. State is keyed and watermark-bounded upstream; at 100 TB
state lives in the state store (RocksDB in prod configs), partitioned
by the grouping key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.time import as_wall

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def _update(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming running (count, sum) per user via explicit state."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def tws_available() -> bool:
    """True when Spark 4's transformWithStateInPandas can actually run:
    its driver↔worker state protocol is protobuf-serialized, so the
    Python `protobuf` package must import cleanly (in this container it
    does not — `google.protobuf.descriptor` is broken — so the operator
    is capability-gated rather than assumed)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same running (count, sum) per user on Spark 4's
    transformWithState API — the successor to applyInPandasWithState:
    named state variables (value/list/map state) on a
    StatefulProcessor, RocksDB-backed, with timers and TTL available.
    Semantically identical to `running_user_totals`; kept as the
    forward-compatible path and capability-gated on `tws_available()`
    (raises RuntimeError when the protobuf runtime is unusable).

    At 100 TB the state story is unchanged: state partitioned by the
    grouping key in the state store, bounded by watermark/TTL."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs a working google.protobuf; "
            "use running_user_totals (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


CAP_SESSION_OUTPUT = (
    "user_id long, session_start timestamp_ntz, n long, span_s long, is_open int"
)
# open-session state ONLY — bounded per key regardless of history:
# gap-session anchor seconds, previous event seconds, current sub
# index, plus the open capped-group's (min_ts, max_ts, n). Timestamps
# ride as int64 microseconds (exact).
CAP_SESSION_STATE = (
    "anchor_s long, prev_s long, sub long, min_us long, max_us long, n long"
)

_GAP_S = 1800
_CAP_S = 7200


def _cap_update(
    key: tuple, pdf_iter, state: GroupState
):
    (user_id,) = key
    import numpy as np

    if state.exists:
        anchor_s, prev_s, sub, min_us, max_us, n = state.get
    else:
        anchor_s = None
    rows = []

    def close():
        rows.append((user_id, min_us, n, max_us // 1_000_000 - min_us // 1_000_000, 0))

    pdfs = [p for p in pdf_iter if len(p)]
    if pdfs:
        ev = pd.concat(pdfs).sort_values(["ts", "event_id"])
        for ts in ev["ts"]:
            us = ts.value // 1000  # ns → µs, exact
            s = us // 1_000_000  # truncated seconds (date_diff parity)
            if anchor_s is None or s - prev_s > _GAP_S:
                if anchor_s is not None:
                    close()
                anchor_s, sub = s, 0
                min_us, max_us, n = us, us, 1
            else:
                new_sub = (s - anchor_s) // _CAP_S
                if new_sub != sub:
                    close()
                    sub = new_sub
                    min_us, max_us, n = us, us, 1
                else:
                    max_us, n = us, n + 1
            prev_s = s
    if anchor_s is not None:
        state.update((anchor_s, prev_s, sub, min_us, max_us, n))
        # emit the open group too, flagged — the drain's last emission
        # for each user carries its final (possibly still-open) session
        rows.append(
            (user_id, min_us, n, max_us // 1_000_000 - min_us // 1_000_000, 1)
        )
    out = pd.DataFrame(
        rows, columns=["user_id", "session_start", "n", "span_s", "is_open"]
    )
    if len(out):
        out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
    yield out


def capped_sessions(events: DataFrame) -> DataFrame:
    """K7 custom stateful operator: gap (30 min) + hard-cap (2 h)
    sessionization — logic no built-in session_window expresses (the
    cap is relative to the GAP-session anchor, not the watermark).
    State per user is the OPEN session only (six longs — provably
    bounded, the property the batch twin `sessionize_with_cap`
    documents); closed sessions emit incrementally, the open one
    re-emits flagged each batch so the drained sink always holds
    every session's latest summary. `ts` enters pandas as a wall clock
    (pandas would see a TIMESTAMP in the session zone)."""
    walls = events.withColumn("ts", as_wall("ts"))
    return walls.groupBy("user_id").applyInPandasWithState(
        _cap_update,
        outputStructType=CAP_SESSION_OUTPUT,
        stateStructType=CAP_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
