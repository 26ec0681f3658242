"""One keyed fold for every Python stateful stream.

Each stateful stream here is a pure per-key fold — ``(key, batch, state)
→ (rows, new_state)`` — over the arbitrary-stateful-operator model of
Structured Streaming: the reference's ``map[string]*chQuery`` folded line
by line (query.go:21-23, main.go:110-129). ``keyed_fold`` owns the whole
``GroupState`` protocol around such a fold, so a module supplies only its
fold, its schemas and its within-batch ordering:

- the timeout mode: processing-time iff ``timeout_ms > 0``;
- a timed-out key emits ``on_timeout(key, state)`` rows (when given) and
  is removed;
- a key's non-empty frames are concatenated once; a key with none is left
  untouched;
- the fold sees its state as a tuple, or ``None`` for a new key;
- a ``None`` new state removes the key; any other is stored and, when
  ``timeout_ms > 0``, re-armed;
- the emitted rows (tuples in output-schema column order) become one
  pandas frame.

Per-task cost: each state partition runs a Python worker task per
micro-batch and pass, data or not, and Spark starts every task with
``importlib.invalidate_caches()``, which re-reads pyspark.zip before
CPython 3.13 (0.14–0.27 CPU-s). The first fold call in a worker installs
``zipstamp``, after which a no-data task costs 1.5–2 ms of CPU.

Checkpoint compatibility: the grouping key and both schemas are the
caller's strings verbatim, so moving an operator onto this primitive does
not change the state it writes.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import zipstamp

Fold = Callable[[tuple, pd.DataFrame, "tuple | None"], "tuple[list[Sequence], tuple | None]"]


def ts_micros(ts: pd.Series) -> np.ndarray:
    """µs since epoch of a timestamp column, whatever its pandas
    resolution (ns or µs); NaT becomes the int64 minimum."""
    return ts.to_numpy(dtype="datetime64[us]").astype("int64")


def schema_columns(ddl: str) -> list[str]:
    """Column names of a DDL schema string (commas inside ``<…>`` are
    type parameters, not field separators)."""
    return [f.split()[0] for f in re.split(r",(?![^<]*>)", ddl)]


def to_frame(rows: Sequence[Sequence], columns: list[str]) -> pd.DataFrame:
    """Rows (sequences in ``columns`` order) → one object-column frame.

    Object-ndarray construction is ~3× cheaper than list-of-dicts for the
    tiny frames each key emits (measured 133 vs 363 µs), and Arrow carries
    timestamp, date, bigint, double, boolean and string values out of
    object columns by the output schema's types. Timestamps are naive
    ``pd.Timestamp`` values, which Arrow reads as UTC: the package's
    sessions run with a UTC session time zone (``session.get_spark``).
    """
    arr = np.empty((len(rows), len(columns)), dtype=object)
    for i, r in enumerate(rows):
        arr[i] = r
    return pd.DataFrame(arr, columns=columns)


def keyed_fold(
    df: DataFrame,
    key: str,
    fold: Fold,
    out_schema: str,
    state_schema: str,
    mode: str,
    timeout_ms: int = 0,
    on_timeout: Callable[[tuple, tuple], list[Sequence]] | None = None,
) -> DataFrame:
    """``df.groupBy(key)`` folded by ``fold(key, batch, state) → (rows,
    new_state)`` as one ``applyInPandasWithState`` operator in output
    ``mode`` ("append" or "update"). Exceptions the fold raises propagate
    and fail the query."""
    columns = schema_columns(out_schema)

    def func(k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        zipstamp.install()
        if state.hasTimedOut:
            rows = on_timeout(k, tuple(state.get)) if on_timeout and state.exists else []
            state.remove()
            if rows:
                yield to_frame(rows, columns)
            return
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        rows, new_state = fold(k, batch, tuple(state.get) if state.exists else None)
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(new_state)
            if timeout_ms > 0:
                state.setTimeoutDuration(timeout_ms)
        if rows:
            yield to_frame(rows, columns)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms > 0 else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key).applyInPandasWithState(
        func, out_schema, state_schema, mode, timeout_conf
    )
