"""Streaming per-key CUSUM monitor — the incremental twin of
workloads/llmdata7.events_cusum_per_key.

Batch computes S_t = max(0, S_{t−1} + c_t − kref) via the prefix-sum
closed form (S_t = P_t − min(0, min_{j≤t} P_j)) because the recurrence
is not window-expressible; STREAMING is where the recurrence lives
naturally — one integer of state per key, folded day by day as batches
arrive. Each key (event type) tracks its open day's count; when an
event for a LATER day arrives, the open day closes: the statistic
updates and one row (day, count, cusum, alarm) is emitted. Days with
no events are skipped — matching the batch twin, whose daily series
contains only observed days.

Late-data policy (watermark-style, explicit): an event whose day
precedes the key's OPEN day is DROPPED — a closed day's count is
already folded into the statistic and its row emitted, so amending it
would require retraction, which append-mode monitoring forgoes (the
same policy as watermarked window close). Within a batch days sort
before folding, so lateness only matters ACROSS batches. Likewise a
processing-time timeout evicts a dormant key's state including its
open partial day without emitting it — the day never closed. Feed
in-order-by-day data (or accept day-granularity drop) for exact
batch-twin parity; tests pin both behaviors.

The reference rate ``kref`` is a parameter, not learned in-stream: in
production the baseline comes from the batch monitor (or a config),
which is exactly how CUSUM is deployed — the detector must not adapt
its own reference to the drift it is trying to catch.

100 TB: state is THREE integers per key (open day, count, S) —
O(|keys|), hash-partitioned by key; emission is append-mode rows at
day granularity. The optional processing-time timeout evicts keys
that stop reporting (the session_state.py leak discipline).

Reference analog: the stateful fold over an unbounded keyed map in
main.go:110-129 / query.go:180-230, applied to a rate series.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold, ts_micros

CUSUM_OUTPUT_SCHEMA = (
    "event_type string, day date, n bigint, cusum bigint, alarm boolean"
)

# open_day: days-since-epoch of the day being accumulated; n: its count;
# s: the CUSUM statistic AFTER the last CLOSED day.
_STATE_SCHEMA = "open_day bigint, n bigint, s bigint"

_US_PER_DAY = 86_400_000_000


def _fold_cusum(
    days: list[int], state: tuple | None, kref: int, threshold: int
) -> tuple[list[dict], tuple]:
    """(sorted day indices of arriving events, state) → (closed-day
    rows, new state). Pure so the recurrence is unit-testable against
    the batch closed form."""
    open_day, n, s = state if state is not None else (None, 0, 0)
    out: list[dict] = []
    for d in days:
        if open_day is None:
            open_day, n = d, 1
        elif d == open_day:
            n += 1
        elif d > open_day:
            s = max(0, s + n - kref)
            out.append(
                {"day": open_day, "n": n, "cusum": s, "alarm": s > threshold}
            )
            open_day, n = d, 1
        # else d < open_day: a cross-batch straggler for an already-
        # closed day — dropped per the module's late-data policy
    return out, (open_day, n, s)


def cusum_stream(
    events: DataFrame, kref: int, threshold: int, timeout_ms: int = 0
) -> DataFrame:
    """events (ts, event_type, event_id) → one append row per CLOSED
    (event_type, day) with the running CUSUM statistic and alarm flag."""

    def fold(key, ev, prev):
        days = sorted((ts_micros(ev["ts"]) // _US_PER_DAY).tolist())
        out, new_state = _fold_cusum(days, prev, kref, threshold)
        return [
            (
                key[0],
                pd.Timestamp(o["day"] * _US_PER_DAY, unit="us").date(),
                o["n"],
                o["cusum"],
                o["alarm"],
            )
            for o in out
        ], new_state

    return keyed_fold(
        events.select("ts", "event_type", "event_id"), "event_type", fold,
        CUSUM_OUTPUT_SCHEMA, _STATE_SCHEMA, "append", timeout_ms,
    )
