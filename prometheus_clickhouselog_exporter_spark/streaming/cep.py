"""CEP absence-guard pattern as a stateful streaming operator.

The batch form (workloads/relational34.pattern_absence_guard) expresses
`click → purchase within 30 min with NO error between` via running-max
windows; this is its streaming twin: per-user state carrying exactly the
two timestamps the guard needs (last click, last error) plus the two
counters — the state a CEP engine's NFA would keep for the same NOT
pattern. Events fold in (ts, event_id) order inside each micro-batch;
state crosses batch boundaries, so arbitrarily long histories stream
through O(1) state per user.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold, ts_micros

GUARD_OUTPUT_SCHEMA = (
    "user_id bigint, n bigint, n_purchases bigint, n_guarded_conversions bigint"
)
_GUARD_STATE = (
    "n bigint, n_purchases bigint, n_guarded bigint, "
    "last_click_us bigint, last_error_us bigint"
)
_WINDOW_US = 30 * 60 * 1_000_000


def _ts_event_rows(pdf: pd.DataFrame) -> list[tuple[int, str]]:
    """(ts_us, event_type) rows from a micro-batch slice in (ts,
    event_id) order — shared by both folds so their ordering cannot
    diverge."""
    pdf = pdf.sort_values(["ts", "event_id"])
    return list(zip(ts_micros(pdf["ts"]).tolist(), pdf["event_type"].tolist()))


def _user_stream(events: DataFrame, fold, out_schema: str, state_schema: str) -> DataFrame:
    return keyed_fold(
        events.select("user_id", "ts", "event_id", "event_type"), "user_id",
        lambda key, pdf, prev: fold(key, _ts_event_rows(pdf), prev),
        out_schema, state_schema, "update",
    )


def fold_guard(rows: list[tuple[int, str]], state: tuple | None) -> tuple:
    """Sequential guard fold over (ts_us, event_type) rows: purchase
    conditions evaluate against STRICTLY PRIOR state (mirroring the
    batch form's `rows between unbounded preceding and 1 preceding`
    windows), then the click/error cells update. -1 = no timestamp."""
    n, n_p, n_g, last_click, last_error = (
        state if state is not None else (0, 0, 0, -1, -1)
    )
    for ts_us, etype in rows:
        if etype == "purchase":
            n_p += 1
            if (
                last_click >= 0
                and ts_us <= last_click + _WINDOW_US
                and (last_error < 0 or last_error < last_click)
            ):
                n_g += 1
        if etype == "click":
            last_click = ts_us
        elif etype == "error":
            last_error = ts_us
        n += 1
    return n, n_p, n_g, last_click, last_error


def guard_stream(events: DataFrame) -> DataFrame:
    """events(user_id, ts, event_id, event_type) stream → per-user
    running (n, n_purchases, n_guarded_conversions) in update mode."""

    def fold(key, rows, prev):
        n, n_p, n_g, _lc, _le = folded = fold_guard(rows, prev)
        return [(key[0], n, n_p, n_g)], folded

    return _user_stream(events, fold, GUARD_OUTPUT_SCHEMA, _GUARD_STATE)


FUNNEL_OUTPUT_SCHEMA = "user_id bigint, n bigint, funnel_level bigint"
_FUNNEL_STATE = (
    "n bigint, best bigint, open_views array<bigint>, "
    "open_l2_anchor array<bigint>"
)
_FUNNEL_W_US = 3600 * 1_000_000


def fold_funnel(rows: list[tuple[int, str]], state: tuple | None) -> tuple:
    """Sequential windowFunnel fold (view → click → purchase, window W
    anchored at the view — the clickhouse_window_funnel batch
    semantics): a click at t is THE earliest click after every still-
    open view anchor v < t, so it resolves them all (level 2 iff
    t ≤ v+W, else the anchor dies at level 1); a purchase resolves open
    level-2 anchors the same way. An anchor whose deadline v+W passes
    unresolved can never succeed (the earliest later event is already
    too late), so pruning by the W horizon is EXACT, and state is
    bounded by the event rate within one window — the same bound
    ClickHouse's own in-memory sweep carries."""
    n, best, open_views, open_l2 = (
        state if state is not None else (0, 0, [], [])
    )
    open_views = list(open_views)
    open_l2 = list(open_l2)
    for ts_us, etype in rows:
        n += 1
        horizon = ts_us - _FUNNEL_W_US
        if etype == "click" and open_views:
            for v in open_views:
                if ts_us <= v + _FUNNEL_W_US:
                    best = max(best, 2)
                    open_l2.append(v)
            open_views = []
        elif etype == "purchase" and open_l2:
            for v in open_l2:
                if ts_us <= v + _FUNNEL_W_US:
                    best = max(best, 3)
            open_l2 = []
        if etype == "view":
            best = max(best, 1)
            open_views.append(ts_us)
        # exact pruning: an unresolved anchor past its deadline is dead
        open_views = [v for v in open_views if v >= horizon]
        open_l2 = [v for v in open_l2 if v >= horizon]
    return n, best, open_views, open_l2


def window_funnel_stream(events: DataFrame) -> DataFrame:
    """events(user_id, ts, event_id, event_type) stream → per-user
    running (n, funnel_level) in update mode (windowFunnel(3600))."""

    def fold(key, rows, prev):
        n, best, _ov, _ol = folded = fold_funnel(rows, prev)
        return [(key[0], n, best)], folded

    return _user_stream(events, fold, FUNNEL_OUTPUT_SCHEMA, _FUNNEL_STATE)
