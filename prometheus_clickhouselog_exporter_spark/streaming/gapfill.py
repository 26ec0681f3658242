"""Streaming calendar gap-fill — the timer-family stateful operator the
reference's eviction loop (main.go:125-129) gestures at, rendered as
``keyed_fold`` in APPEND mode.

A per-key daily series arrives as (key, day, n, total) observations in
day order (the log-tailing regime: files land chronologically). The
operator carries ONE boundary observation per key — (last_day,
last_total) — and, when a new observation lands g days after the last
one, EMITS the g−1 missing calendar days with the carried total
(is_filled=true, n=0) before the observed row (is_filled=false). The
result is the regularized series every sequence model / trend monitor
wants, produced incrementally instead of by the batch grid join
(timeseries_gapfill_daily) — and certified equal to it by the
`streaming_gapfill_fidelity` oracle query.

Emission is append-mode: every row (observed or filled) is final the
batch it appears, never updated — gap rows are fully determined by the
two observations that bracket them, so arriving data can only APPEND
days, never revise old ones. That also makes the fidelity hash
batch-split-invariant: however the input files batch, the emitted set
is identical as long as arrival order respects day order (the operator
fail-louds on a backwards day, it never silently reorders history).

Timer semantics (the tws-timer stand-in this sandbox can run): with
``timeout_ms`` set, a key idle past the horizon times out and its state
is REMOVED — the series closes, and a later observation starts a fresh
segment WITHOUT filling across the eviction (a host that went dark for
a month should not fabricate 30 flat days; the gap is real). Eviction
emits nothing: append rows are final and a close adds no information.
The timer path is golden-tested by polling query progress
(tests/test_streaming_gapfill.py) — a processing-time timer keeps
scheduling micro-batches, so processAllAvailable never quiesces once
armed (the trap documented in test_streaming.py); the FIDELITY query
therefore runs with NoTimeout, where drain semantics are exact.

100 TB: state is 2 BIGINTs + 1 double per key; each batch folds one
pandas frame per touched key. Emission volume is bounded by the true
calendar span (≤ horizon days per gap when timers are on), and the
per-gap cap below fail-louds rather than materializing an unbounded
fill from a corrupt far-future day.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold

GAPFILL_OUTPUT_SCHEMA = (
    "event_type string, day date, n bigint, total double, is_filled boolean"
)
# last_day as days-since-epoch (exact int arithmetic; date objects don't
# round-trip a state store row), last_total verbatim (copied, never
# recomputed — so the carried double is bit-identical to the observed one).
_GAPFILL_STATE = "last_day bigint, last_total double"

_MAX_GAP_DAYS = 100_000  # ~274 years; anything past this is corrupt input


def fold_gapfill(
    rows: list[tuple[int, int, float]], state: tuple | None
) -> tuple[list[tuple[int, int, float, bool]], tuple[int, float]]:
    """Pure gap-fill fold (the fold_events pattern — testable without
    Spark): consume (day_epoch, n, total) observations in order, given
    optional boundary state (last_day, last_total); return (emissions,
    new_state) where emissions are (day_epoch, n, total, is_filled).

    A duplicate day (same as boundary) or a backwards day raises —
    upstream is a daily AGGREGATE, so a repeat means the input violated
    its contract and silently last-wins/reordering would corrupt the
    certified series.
    """
    last_day, last_total = state if state is not None else (None, None)
    out: list[tuple[int, int, float, bool]] = []
    for day, n, total in rows:
        if last_day is not None:
            if day <= last_day:
                raise ValueError(
                    f"gapfill: day {day} arrived at/before boundary {last_day} "
                    f"— input must be day-ordered per key with one row per day"
                )
            gap = day - last_day - 1
            if gap > _MAX_GAP_DAYS:
                raise ValueError(
                    f"gapfill: {gap}-day gap exceeds the {_MAX_GAP_DAYS} cap "
                    f"— refusing to materialize a fill from corrupt input"
                )
            for d in range(last_day + 1, day):
                out.append((d, 0, last_total, True))
        out.append((day, n, total, False))
        last_day, last_total = day, total
    return out, (last_day, last_total)


def gapfill_stream(daily: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """daily (event_type, day, n, total) → append-mode regularized
    series (event_type, day, n, total, is_filled)."""

    def fold(key, ev, prev):
        # a timed-out key is evicted by keyed_fold, so the next
        # observation restarts a fresh segment instead of filling across
        # the dark period
        ev = ev.sort_values("day", kind="mergesort")
        rows = [
            ((pd.Timestamp(d) - pd.Timestamp(1970, 1, 1)).days, int(n), float(t))
            for d, n, t in zip(ev["day"], ev["n"], ev["total"])
        ]
        out, new_state = fold_gapfill(rows, prev)
        return [
            (key[0], (pd.Timestamp(1970, 1, 1) + pd.Timedelta(days=d)).date(), n, t, f)
            for d, n, t, f in out
        ], new_state

    return keyed_fold(
        daily.select("event_type", "day", "n", "total"), "event_type", fold,
        GAPFILL_OUTPUT_SCHEMA, _GAPFILL_STATE, "append", timeout_ms,
    )
