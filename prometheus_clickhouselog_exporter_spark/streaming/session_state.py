"""Stateful streaming sessionization — the exact rendering of the
reference's ``map[string]*chQuery`` state machine (ST1-ST5) on
``keyed_fold``.

Semantics reproduced line-for-line from /root/reference/query.go:
- ST1 insert-on-initial; duplicate ID while a session is open counts
  ``duplicated_initial_query`` and keeps the first record (query.go:91-95);
  the dup check precedes cast checks, so a malformed duplicate still counts
  as a duplicate while a malformed initial with no open session counts
  ``convert`` and does not occupy the session (query.go:96-116).
- ST2 stats enrich: lookup-miss counts ``not_found_query`` (query.go:190);
  any cast failure counts ``convert`` and skips the whole line
  (query.go:150-176); success sets rows/bytes/rps/speed and observes the
  four histograms (query.go:178-186).
- ST3 memory enrich: sets memory/end-time, derives
  ``elapsed = memory.dt − initial.dt`` (the stats line's own elapsed field
  is deliberately unused — query.go:226), observes query_time for ALL
  statement types including INSERT (observe precedes the FullInfo check,
  query.go:228 vs :231), completes the session iff stmt ≠ insert.
- ST4 error enrich: sets error fields, counts query_errors; never closes
  the session (query.go:253-268).
- ST5 eviction on completion (main.go:125-129) — after which a re-used ID
  opens a FRESH session, exactly as the reference's map behaves. Plus the
  state timeout the reference lacks (its INSERT/error-only sessions leak
  forever): stale sessions are evicted and reported as ``timeout_evict``.

Scale: state is partitioned by query ID across executors (RocksDB-backed
state store on a real cluster), so active-session memory is per-executor
O(active/executors); the timeout bounds it absolutely.

Arrival order: within a micro-batch, events are folded in (ts, line_hash)
order, as in batch — ClickHouse timestamps are monotone per query.
Cross-batch disorder degrades exactly as the reference does (a stats line
before its initial counts ``not_found_query``), no buffering is invented.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold, to_frame, ts_micros

# One wide nullable schema for all emitted row kinds keeps this a single
# append-mode stream that downstream aggregates split by row_type.
SESSION_OUTPUT_SCHEMA = (
    "row_type string, id string, host string, port bigint, pid bigint, "
    "query string, stmt_type string, start_time timestamp, end_time timestamp, "
    "rows_read bigint, bytes_read bigint, rps bigint, speed bigint, "
    "memory bigint, elapsed double, error boolean, error_code bigint, "
    "error_message string, full_info boolean, err_type string, obs_label string"
)

STATE_SCHEMA = (
    "host string, port bigint, pid bigint, query string, stmt_type string, "
    "start_us bigint, rows_read bigint, bytes_read bigint, rps bigint, "
    "speed bigint, memory bigint, end_us bigint, error boolean, "
    "error_code bigint, error_message string"
)

_OUT_COLS = [
    "row_type", "id", "host", "port", "pid", "query", "stmt_type",
    "start_time", "end_time", "rows_read", "bytes_read", "rps", "speed",
    "memory", "elapsed", "error", "error_code", "error_message",
    "full_info", "err_type", "obs_label",
]


def _blank(row_type: str, qid: str) -> dict[str, Any]:
    d = dict.fromkeys(_OUT_COLS)
    d["row_type"] = row_type
    d["id"] = qid
    return d


def _session_row(row_type: str, qid: str, s: tuple, full_info: bool) -> dict[str, Any]:
    d = _blank(row_type, qid)
    (host, port, pid, query, stmt, start_us, rows, bts, rps, speed, mem, end_us, err, code, msg) = s
    d.update(
        host=host, port=port, pid=pid, query=query, stmt_type=stmt,
        start_time=_us_to_ts(start_us), end_time=_us_to_ts(end_us),
        rows_read=rows, bytes_read=bts, rps=rps, speed=speed, memory=mem,
        elapsed=((end_us - start_us) / 1e6 if end_us is not None and start_us is not None else None),
        error=bool(err), error_code=code, error_message=msg, full_info=full_info,
    )
    return d


def _us_to_ts(us):
    return pd.Timestamp(us, unit="us") if us is not None else None


def _none_if_nan(v):
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


# Columns pulled out of each per-group pandas frame (the event row of
# ``correlate.enrich_parsed``), in tuple order.
_EV_COLS = (
    "event_kind", "valid", "host", "port", "pid", "query",
    "stmt_type", "rows_read", "bytes_read", "rps", "speed", "memory_bytes",
    "error_code", "error_message", "line_hash",
)
_NAT = np.iinfo("int64").min  # datetime64 NaT as int64


def _values(out: list[dict[str, Any]]) -> list[list]:
    return [[d[c] for c in _OUT_COLS] for d in out]


def _to_pdf(out: list[dict[str, Any]]) -> pd.DataFrame:
    return to_frame(_values(out), _OUT_COLS)


def rows_from_frames(frames: list[pd.DataFrame]) -> list[tuple]:
    """Per-group pandas frames → plain tuples in arrival order.

    Hot-path shape: the per-group overhead is what bounds sessions/sec at
    scale (one Python call per query id), so this avoids the pandas row
    machinery entirely — numpy column pulls + zip into plain tuples + a
    Python sort (groups are a handful of lines; stable, NULL ts last) —
    measured ~6× over sort_values + itertuples + DataFrame-of-dicts.
    """
    if not frames:
        return []
    ev_df = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    # µs since epoch directly; NaT becomes int64 min (sorts via flag)
    ts_us_arr = ts_micros(ev_df["ts"])
    rows = list(zip(ts_us_arr, *(ev_df[c].to_numpy() for c in _EV_COLS)))
    if len(rows) > 1:
        # arrival-order proxy: (ts, line_hash), NULL ts last, as in batch.
        rows.sort(key=lambda r: (r[0] == _NAT, r[0], r[15]))
    return rows


def fold_events(
    qid: str, rows: list[tuple], sess: tuple | None
) -> tuple[list[dict[str, Any]], tuple | None]:
    """The ST1-ST5 state machine, pure: (events, session) → (emitted rows,
    new session). Shared verbatim by the ``keyed_fold`` and the
    transformWithStateInPandas renderings, so the two APIs cannot drift."""
    out: list[dict[str, Any]] = []
    for (tus, kind, valid, host, port, pid, query, stmt, ev_rows, ev_bytes,
         ev_rps, ev_speed, ev_mem, ev_code, ev_msg, _h) in rows:
        ts_us = None if tus == _NAT else int(tus)
        # Error precedence as in ``annotate_events``: the dup check precedes
        # the cast checks (query.go:91-95), a lookup miss precedes them on
        # the enrich paths (query.go:190, 237, 270).
        if kind == "initial" and sess is not None:
            out.append(_blank("err", qid) | {"err_type": "duplicated_initial_query"})
        elif kind != "initial" and sess is None:
            out.append(_blank("err", qid) | {"err_type": "not_found_query"})
        elif not valid:
            out.append(_blank("err", qid) | {"err_type": "convert"})
        elif kind == "initial":
            # numpy scalars → Python ints so the state tuple matches the
            # bigint state schema.
            sess = (
                host, int(port), int(pid), query,
                stmt, ts_us, None, None, None, None, None, None,
                False, None, None,
            )
            out.append(_blank("obs_initial", qid) | {"obs_label": stmt})
        elif kind == "stats":
            sess = sess[:6] + (int(ev_rows), int(ev_bytes), int(ev_rps), int(ev_speed)) + sess[10:]
            d = _blank("obs_stats", qid)
            d.update(rows_read=int(ev_rows), bytes_read=int(ev_bytes),
                     rps=int(ev_rps), speed=int(ev_speed))
            out.append(d)
        elif kind == "memory":
            sess = sess[:10] + (int(ev_mem), ts_us) + sess[12:]
            elapsed = (ts_us - sess[5]) / 1e6
            out.append(_blank("obs_time", qid) | {"obs_label": sess[4], "elapsed": elapsed})
            if sess[4] != "insert":  # FullInfo ⇒ evict (main.go:125-129)
                out.append(_session_row("session", qid, sess, True))
                sess = None
        elif kind == "error":
            sess = sess[:12] + (True, int(ev_code), ev_msg)
            out.append(
                _blank("obs_error", qid)
                | {"obs_label": sess[4], "error_code": int(ev_code)}
            )
    return out, sess


def _fold_session(key: tuple, batch: pd.DataFrame, sess: tuple | None) -> tuple[list[list], tuple | None]:
    # once per query id: one frame in, no second concat (rows_from_frames
    # takes a one-frame list as is)
    out, sess = fold_events(key[0], rows_from_frames([batch]), sess)
    return _values(out), sess


def _timeout_evict(key: tuple, sess: tuple) -> list[list]:
    return _values([_session_row("timeout_evict", key[0], sess, False)])


def sessionize_stream(enriched: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """enriched parsed events (see ``correlate.enrich_parsed``) → session /
    observation / error row stream. Works on streaming and batch inputs.
    A closed session is removed; an open one is re-armed."""
    return keyed_fold(
        enriched, "id", _fold_session, SESSION_OUTPUT_SCHEMA, STATE_SCHEMA, "append",
        timeout_ms, on_timeout=_timeout_evict,
    )
