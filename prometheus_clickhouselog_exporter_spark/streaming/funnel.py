"""Streaming twin of the ordered view→click→purchase funnel
(workloads/llmdata2.funnel_view_click_purchase — ROADMAP breadth item).

Per-user stage machine on ``keyed_fold``: the earliest view
anchors the funnel, the earliest click after it arms the purchase stage,
and the first purchase after that click emits ONE completion row
(user_id, stage timestamps, hours_to_convert) and retires the user's
state. For in-order input this reproduces the batch twin's
conditional-min anchors exactly (the fidelity test feeds the same events
to both and asserts identical completions).

100 TB: state is three timestamps per in-flight user — O(active users),
not O(events); hash-partitioned by user_id like every stateful op here.
A timeout (``timeout_ms``) bounds state for users who never convert —
the same eviction discipline session_state.py applies to the reference's
leaking map (main.go:110-129 analog).
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold, ts_micros

FUNNEL_OUTPUT_SCHEMA = (
    "user_id bigint, view_ts timestamp, click_ts timestamp, "
    "purchase_ts timestamp, hours_to_convert double"
)

_FUNNEL_STATE_SCHEMA = "v_us bigint, c_us bigint, done boolean"


def _fold_funnel(
    rows: list[tuple], state: tuple | None
) -> tuple[list[dict[str, Any]], tuple | None]:
    """(sorted (ts_us, event_type) rows, state) → (completions, state)."""
    v_us, c_us, done = state if state is not None else (None, None, False)
    out: list[dict[str, Any]] = []
    for ts_us, kind in rows:
        if done:
            break
        if kind == "view":
            if v_us is None:
                v_us = ts_us
        elif kind == "click":
            if v_us is not None and c_us is None and ts_us > v_us:
                c_us = ts_us
        elif kind == "purchase":
            if c_us is not None and ts_us > c_us:
                out.append(
                    {
                        "v_us": v_us,
                        "c_us": c_us,
                        "p_us": ts_us,
                        "hours": (ts_us - v_us) / 3600_000_000.0,
                    }
                )
                done = True
    return out, (v_us, c_us, done)


def funnel_stream(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """events (user_id, ts, event_type) → one completion row per user who
    finishes view → click-after-view → purchase-after-click."""

    def fold(key, ev, prev):
        rows = sorted(zip(ts_micros(ev["ts"]).tolist(), ev["event_type"].tolist()))
        out, new_state = _fold_funnel(rows, prev)
        done = new_state[2] and bool(out)  # completed — no further state needed
        return [
            (
                key[0],
                pd.Timestamp(o["v_us"], unit="us"),
                pd.Timestamp(o["c_us"], unit="us"),
                pd.Timestamp(o["p_us"], unit="us"),
                o["hours"],
            )
            for o in out
        ], None if done else new_state

    return keyed_fold(
        events.select("user_id", "ts", "event_type"), "user_id", fold,
        FUNNEL_OUTPUT_SCHEMA, _FUNNEL_STATE_SCHEMA, "append", timeout_ms,
    )
