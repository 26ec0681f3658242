"""Driver-side harness for the transformWithStateInPandas sessionizer.

The tws integration suite (test_session_tws.py) needs ``google.protobuf``
for Spark's state-server protocol and SKIPS in this container (no installs
allowed — ADR in SCALE.md). This file closes the coverage gap WITHOUT the
state server: ``SessionProcessor`` is plain Python over a handle interface,
so every method — init, handleInitialState, handleInputRows,
handleExpiredTimer — executes here against fake handle/state/timer objects
that honor the documented StatefulProcessorHandle contract. Only the wire
glue Spark itself owns stays untested locally.

Reference semantics under test: sessions open on initial (query.go:91-120),
memory closes iff stmt != insert (query.go:231-233, main.go:125-129),
timer-evict drains leaked INSERT state (the leak the reference never fixes,
main.go:110-129).
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd

from prometheus_clickhouselog_exporter_spark.streaming.session_state import _EV_COLS
from prometheus_clickhouselog_exporter_spark.streaming.session_tws import (
    _STATE_COLS,
    SessionProcessor,
)

T_US = int(datetime(2024, 6, 1, 8, 0, 0).timestamp() * 1_000_000)


class FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class FakeHandle:
    def __init__(self):
        self.states = {}
        self.timers = []

    def getValueState(self, name, schema, ttl_ms=None):
        self.states[name] = FakeValueState()
        return self.states[name]

    def registerTimer(self, ts_ms):
        self.timers.append(ts_ms)


class FakeTimerValues:
    def __init__(self, now_ms=1_000_000):
        self._now = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self._now


def ev_frame(*events):
    """events: (ts_us, kind, overrides) → one per-group pandas frame in the
    exact shape rows_from_frames consumes (ts + _EV_COLS)."""
    rows = []
    for ts_us, kind, over in events:
        base = dict.fromkeys(_EV_COLS)
        base.update(
            event_kind=kind, valid=True, host="10.0.0.1", port=9000,
            pid=7, query="SELECT count() FROM hits", stmt_type="select",
            line_hash=ts_us,
        )
        base.update(over)
        rows.append({"ts": pd.Timestamp(ts_us, unit="us"), **base})
    return pd.DataFrame(rows)


def make_processor(timeout_ms=0, ttl_ms=None):
    p = SessionProcessor(timeout_ms=timeout_ms, ttl_ms=ttl_ms)
    h = FakeHandle()
    p.init(h)
    return p, h


def emitted(frames):
    out = list(frames)
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def test_open_then_memory_closes_select_session():
    p, h = make_processor()
    tv = FakeTimerValues()
    out1 = emitted(p.handleInputRows(("q-1",), iter([ev_frame((T_US, "initial", {}))]), tv))
    assert list(out1["row_type"]) == ["obs_initial"]
    assert h.states["sess"].exists()  # session held open in state

    out2 = emitted(
        p.handleInputRows(
            ("q-1",),
            iter([ev_frame((T_US + 4_000_000, "memory", {"memory_bytes": 2 * 1024 * 1024}))]),
            tv,
        )
    )
    by_type = {r["row_type"]: r for _, r in out2.iterrows()}
    assert set(by_type) == {"obs_time", "session"}
    assert by_type["session"]["elapsed"] == 4.0
    assert by_type["session"]["memory"] == 2 * 1024 * 1024
    assert by_type["session"]["full_info"]
    assert not h.states["sess"].exists()  # FullInfo ⇒ evicted


def test_insert_session_survives_memory_and_registers_timer():
    p, h = make_processor(timeout_ms=1500)
    tv = FakeTimerValues(now_ms=10_000)
    emitted(
        p.handleInputRows(
            ("q-ins",),
            iter([ev_frame((T_US, "initial", {"stmt_type": "insert", "query": "INSERT INTO t VALUES (1)"}))]),
            tv,
        )
    )
    assert h.timers == [11_500]
    out = emitted(
        p.handleInputRows(
            ("q-ins",),
            iter([ev_frame((T_US + 1_000_000, "memory", {"memory_bytes": 1024}))]),
            tv,
        )
    )
    # INSERT never completes (query.go:231-233): obs_time only, no session row,
    # state stays open, timer re-armed.
    assert list(out["row_type"]) == ["obs_time"]
    assert h.states["sess"].exists()
    assert h.timers == [11_500, 11_500]


def test_expired_timer_evicts_and_clears():
    p, h = make_processor(timeout_ms=1500)
    tv = FakeTimerValues()
    emitted(
        p.handleInputRows(
            ("q-leak",),
            iter([ev_frame((T_US, "initial", {"stmt_type": "insert", "query": "INSERT INTO t VALUES (1)"}))]),
            tv,
        )
    )
    out = emitted(p.handleExpiredTimer(("q-leak",), tv, None))
    assert list(out["row_type"]) == ["timeout_evict"]
    row = out.iloc[0]
    assert row["id"] == "q-leak" and row["stmt_type"] == "insert" and not row["full_info"]
    assert not h.states["sess"].exists()
    # a second expiry on empty state emits nothing
    assert emitted(p.handleExpiredTimer(("q-leak",), tv, None)).empty


def test_initial_state_bootstrap_then_close():
    p, h = make_processor(timeout_ms=1000)
    tv = FakeTimerValues(now_ms=5_000)
    seed = pd.DataFrame(
        [
            {
                "host": "10.0.9.9", "port": 9999, "pid": 42,
                "query": "SELECT seeded", "stmt_type": "select", "start_us": T_US,
                "rows_read": None, "bytes_read": None, "rps": None, "speed": None,
                "memory": None, "end_us": None, "error": False,
                "error_code": None, "error_message": None,
            }
        ],
        columns=_STATE_COLS,
    )
    p.handleInitialState(("q-seed",), seed, tv)
    assert h.states["sess"].exists() and h.timers == [6_000]

    out = emitted(
        p.handleInputRows(
            ("q-seed",),
            iter([ev_frame((T_US + 4_000_000, "memory", {"memory_bytes": 2 * 1024 * 1024}))]),
            tv,
        )
    )
    by_type = {r["row_type"]: r for _, r in out.iterrows()}
    # elapsed derives from the SEEDED start time — the batch-backfill handoff
    assert by_type["session"]["elapsed"] == 4.0
    assert by_type["session"]["host"] == "10.0.9.9"
    assert not h.states["sess"].exists()


def test_duplicate_initial_is_err_first_valid_wins():
    p, h = make_processor()
    tv = FakeTimerValues()
    out = emitted(
        p.handleInputRows(
            ("q-dup",),
            iter(
                [
                    ev_frame(
                        (T_US, "initial", {}),
                        (T_US + 1, "initial", {"host": "10.9.9.9"}),
                    )
                ]
            ),
            tv,
        )
    )
    assert list(out["row_type"]) == ["obs_initial", "err"]
    assert out.iloc[1]["err_type"] == "duplicated_initial_query"
    assert h.states["sess"].get()[0] == "10.0.0.1"  # first valid wins (query.go:91-95)
