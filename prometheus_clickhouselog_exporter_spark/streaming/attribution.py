"""Streaming twin of last-touch attribution
(workloads/pipeline_ops4.attribution_last_touch).

Per-user carry-forward state on ``keyed_fold``: every
click/view updates the user's last-touch (channel, ts); every purchase
emits ONE attribution row crediting the state as it stood strictly
before the purchase — or 'direct' when nothing precedes it. For
time-ordered input this reproduces the batch twin's ignore-nulls window
exactly (the fidelity test runs both on the same events and compares the
per-channel rollup), and unlike the batch window it works incrementally:
a click in batch N attributes a purchase in batch N+1 without
reprocessing batch N.

This is the reference correlator's exact state discipline (query.go:
180-230 — stash the opening line's fields, consume them at the closing
line) applied to a marketing/curation timeline instead of a query_id.

100 TB: state is ONE (channel, ts_us) pair per active user — O(active
users), hash-partitioned by user_id; the optional processing-time
timeout evicts dormant users (the same leak fix session_state.py applies
to the reference's unbounded map, main.go:110-129).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold, ts_micros

ATTRIBUTION_OUTPUT_SCHEMA = (
    "user_id bigint, purchase_ts timestamp, value double, channel string"
)

# last-touch channel + its event time; channel None ⇒ no touch seen yet
_STATE_SCHEMA = "channel string, touch_us bigint"

_TOUCH_TYPES = ("click", "view")


def _fold_attribution(
    rows: list[tuple], state: tuple | None
) -> tuple[list[dict], tuple]:
    """(sorted (ts_us, event_type, event_id, value) rows, state) →
    (attribution rows, new state). Purchases consult the state BEFORE the
    row is applied, so equal-timestamp touches never self-attribute
    (matching the batch twin's 1-PRECEDING frame, which orders ties by
    (ts, event_id) and still excludes the current row)."""
    channel, touch_us = state if state is not None else (None, None)
    out: list[dict] = []
    for ts_us, kind, _event_id, value in rows:
        if kind == "purchase":
            out.append(
                {
                    "ts_us": ts_us,
                    "value": value,
                    "channel": channel if channel is not None else "direct",
                }
            )
        elif kind in _TOUCH_TYPES:
            channel, touch_us = kind, ts_us
    return out, (channel, touch_us)


def attribution_stream(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """events (user_id, ts, event_type, event_id, value) → one row per
    purchase with its attributed channel, incrementally."""

    def fold(key, ev, prev):
        # sort key must be (ts, event_id) — the batch twin's window order —
        # never the tuple's natural order, which would compare event_type
        # strings at equal timestamps and diverge from the batch rollup
        rows = sorted(
            zip(
                ts_micros(ev["ts"]).tolist(),
                ev["event_type"].tolist(),
                ev["event_id"].tolist(),
                ev["value"].tolist(),
            ),
            key=lambda r: (r[0], r[2]),
        )
        out, new_state = _fold_attribution(rows, prev)
        return [
            (key[0], pd.Timestamp(o["ts_us"], unit="us"), o["value"], o["channel"])
            for o in out
        ], new_state

    return keyed_fold(
        events.select("user_id", "ts", "event_type", "event_id", "value"), "user_id", fold,
        ATTRIBUTION_OUTPUT_SCHEMA, _STATE_SCHEMA, "append", timeout_ms,
    )
