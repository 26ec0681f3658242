"""Streaming ORDER-SENSITIVE sequential monitors — runs test and lag-1
autocorrelation as ``keyed_fold`` operators.

The moments monitor (streaming/moments.py) proved the additive-state
family streams trivially: state merges by addition, order-free. These
two monitors cover the harder family: statistics whose state depends on
the ARRIVAL SEQUENCE. The runs test needs the last observation's sign
to know whether the next one extends or starts a run; lag-1
autocorrelation needs the last quantized value to form the next
(x_t, x_{t+1}) pair. Both therefore carry one extra scalar of state —
the boundary element — and a batch fold must (a) sort its rows by the
declared order key and (b) stitch the previous batch's boundary onto
this batch's head. Everything else stays exact-integer (quantized
BIGINT sums, the moments discipline), so the final emitted statistics
are bit-reproducible and SQL-recomputable.

Order contract: rows are folded in (ts, event_id) order within a batch;
cross-batch order is batch arrival. Feed time-ordered files (the log
tailing regime) and the result equals the batch statistic over the full
ordered series — certified by the streaming_*_fidelity oracle queries
and the cross-batch pytest suite.

100 TB: O(|keys|) state — 4 BIGINTs (runs) / 8 BIGINTs (acf1) per key;
per batch one numpy fold per touched key. Magnitude budget: Σq² grows
as n·v̂²·SCALE² — past ~4.6e18 lower the scale (floor-clamp rule,
SCALE.md); the emit-side cross products are folded in arbitrary-
precision Python ints before the single float conversion, so only the
STATE schema is budget-bound, never the emission arithmetic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold

RUNS_OUTPUT_SCHEMA = (
    "event_type string, n bigint, n_above bigint, n_below bigint, "
    "n_runs bigint, expected_runs double"
)
_RUNS_STATE = "n bigint, n_above bigint, n_runs bigint, last_above bigint"

ACF1_OUTPUT_SCHEMA = "event_type string, n bigint, n_pairs bigint, r1 double"
_ACF1_STATE = (
    "n bigint, m bigint, sxy bigint, sh bigint, st bigint, shh bigint, "
    "stt bigint, last_q bigint, has_last bigint"
)

_SCALE = 10_000
_SUM_CAP = 1 << 62


def _ordered_values(ev: pd.DataFrame) -> list:
    return ev.sort_values(["ts", "event_id"], kind="mergesort")["value"].tolist()


def _sequential_stream(
    events: DataFrame, fold, out_schema: str, state_schema: str, timeout_ms: int
) -> DataFrame:
    """The three monitors' shared shape: non-null values folded per
    event_type in (ts, event_id) order, re-emitted in update mode."""
    return keyed_fold(
        events.select("event_type", "ts", "event_id", "value").filter("value IS NOT NULL"),
        "event_type", fold, out_schema, state_schema, "update", timeout_ms,
    )


def _fround(x: float, digits: int = 6) -> float:
    import math

    m = 10**digits
    return math.floor(x * m + 0.5) / m


def fold_runs(
    values: list[float], state: tuple | None, threshold: float
) -> tuple[int, int, int, int]:
    """Sequential runs fold: (n, n_above, n_runs, last_above) after
    consuming `values` in order. Values equal to the threshold DROP
    (the median-equal rule of the batch runs test, relational14).
    last_above = -1 before any observation."""
    n, na, runs, last = state if state is not None else (0, 0, 0, -1)
    for v in values:
        if v == threshold:
            continue
        above = 1 if v > threshold else 0
        n += 1
        na += above
        if last == -1 or last != above:
            runs += 1
        last = above
    return n, na, runs, last


def runs_stream(
    events: DataFrame, threshold: float, timeout_ms: int = 0
) -> DataFrame:
    """events (event_type, ts, event_id, value) → running per-type
    Wald-Wolfowitz runs statistics after each batch (update mode):
    observed run count vs the i.i.d. expectation 1 + 2·n₊·n₋/n."""

    def fold(key, ev, prev):
        n, na, runs, _last = folded = fold_runs(_ordered_values(ev), prev, threshold)
        if n == 0:
            return [], folded
        nb = n - na
        expected = 1.0 + (2.0 * na * nb) / n
        return [(key[0], n, na, nb, runs, _fround(expected))], folded

    return _sequential_stream(events, fold, RUNS_OUTPUT_SCHEMA, _RUNS_STATE, timeout_ms)


DELTA_OUTPUT_SCHEMA = (
    "event_type string, n bigint, delta_sum_cents bigint, n_drops bigint"
)
_DELTA_STATE = (
    "n bigint, ds bigint, drops bigint, last_q bigint, has_last bigint"
)


def fold_delta_sum(values: list[float], state: tuple | None) -> tuple:
    """Sequential deltaSum fold over integer cents q = ⌊v·100 + 0.5⌋:
    accumulate max(0, q_t − q_{t−1}) across consecutive observations
    (ClickHouse deltaSum semantics as pinned by
    clickhouse_delta_sum_moving — the first observation contributes
    nothing), count ignored negative deltas, carry the boundary cents
    across batches. Exact integers throughout."""
    import math

    n, ds, drops, last_q, has_last = (
        state if state is not None else (0, 0, 0, 0, 0)
    )
    for v in values:
        q = int(math.floor(v * 100 + 0.5))
        n += 1
        if has_last:
            if q > last_q:
                ds += q - last_q
            elif q < last_q:
                drops += 1
        last_q, has_last = q, 1
    return n, ds, drops, last_q, has_last


def delta_sum_stream(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """events (event_type, ts, event_id, value) → running per-type
    deltaSum after each batch (update mode): the counter-style
    positive-delta accumulator, order-sensitive like runs/acf1 — one
    boundary cent of extra state stitches batches together."""

    def fold(key, ev, prev):
        n, ds, drops, _lq, _hl = folded = fold_delta_sum(_ordered_values(ev), prev)
        return [(key[0], n, ds, drops)], folded

    return _sequential_stream(events, fold, DELTA_OUTPUT_SCHEMA, _DELTA_STATE, timeout_ms)


def fold_acf1(values: list[float], state: tuple | None) -> tuple:
    """Sequential lag-1 co-moment fold over quantized values
    q = ⌊v·SCALE⌋: pair sums (m, Σhq·tq, Σhq, Σtq, Σhq², Σtq²) plus the
    boundary element (last_q, has_last). Exact BIGINT throughout,
    capped fail-loud at 2^62."""
    import math

    n, m, sxy, sh, st, shh, stt, last_q, has_last = (
        state if state is not None else (0, 0, 0, 0, 0, 0, 0, 0, 0)
    )
    for v in values:
        q = int(math.floor(v * _SCALE))
        n += 1
        if has_last:
            m += 1
            sxy += last_q * q
            sh += last_q
            st += q
            shh += last_q * last_q
            stt += q * q
        last_q, has_last = q, 1
    if max(abs(sxy), shh, stt) >= _SUM_CAP:
        raise OverflowError(
            "acf1 state sum exceeds the BIGINT budget; lower _SCALE "
            "(quantization) for this value magnitude"
        )
    return n, m, sxy, sh, st, shh, stt, last_q, has_last


def acf1_stream(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """events (event_type, ts, event_id, value) → running per-type lag-1
    autocorrelation of the value sequence after each batch (update
    mode) — the live seasonality/trend probe twinning the batch
    correlogram (timeseries_acf_by_type)."""

    def fold(key, ev, prev):
        n, m, sxy, sh, st, shh, stt, _lq, _hl = folded = fold_acf1(_ordered_values(ev), prev)
        if m < 2:
            return [], folded
        # exact-int cross terms (Python arbitrary precision), each
        # converted to double ONCE, then the identical op sequence the
        # SQL oracle runs: num / sqrt(da·db) — so the only inexactness
        # is the shared IEEE ops, absorbed by the 1e-6 fround grid.
        num = float(m * sxy - sh * st)
        da = float(m * shh - sh * sh)
        db = float(m * stt - st * st)
        if da <= 0 or db <= 0:
            r1 = None
        else:
            r1 = _fround(num / (da * db) ** 0.5)
        return [(key[0], n, m, r1)], folded

    return _sequential_stream(events, fold, ACF1_OUTPUT_SCHEMA, _ACF1_STATE, timeout_ms)
