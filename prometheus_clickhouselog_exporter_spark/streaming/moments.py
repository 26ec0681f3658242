"""Streaming running moments per key — incremental mean/variance/CV
with THREE integers of mergeable state.

The batch moment statistics here (skewness, ANOVA, Cohen's d, the
interarrival CV) all advertise the same property: quantized moment
sums merge by ADDITION, so they are streaming-ready. This module
cashes that in: a ``keyed_fold`` operator whose per-key state
is (n, Σq, Σq²) over quantized values (floor(value·1e4) BIGINTs at the
default ``_SCALE`` — the
workloads/core.py fold rule), updated per batch and emitted as the
running mean / population std / CV after every batch that touches the
key. The update-mode emission makes it the live twin of
events_interarrival_cv-style reports: the statistic any dashboard
polls without rescanning history.

100 TB: O(|keys|) state, three BIGINTs each; per batch the work is one
Arrow-vectorized fold per touched key. The optional processing-time
timeout evicts dormant keys (session_state.py discipline). The
sum-of-squares BIGINT is capped fail-loud at 2^62 — at the default
1e4 quantization scale that is
n·v² ≈ 4.6e10 per key; lower the scale for hotter keys or larger
magnitudes (the floor-clamp rule, SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold

MOMENTS_OUTPUT_SCHEMA = (
    "event_type string, n bigint, mean double, std double, cv double"
)

_STATE_SCHEMA = "n bigint, s bigint, ss bigint"

_SCALE = 10_000
_SS_CAP = 1 << 62


def _fold_moments(
    values: list[float], state: tuple | None
) -> tuple[int, int, int]:
    """Fold quantized values into (n, Σq, Σq²) — pure, additive,
    order-free (the mergeability property under test). The running Σq²
    is a BIGINT in the state schema, so it is capped FAIL-LOUD at 2^62
    (the floor-clamp rule, SCALE.md): at scale 1e4 that allows
    n·v² ≈ 4.6e10 per key — e.g. 4.6 million values of magnitude 100 —
    before the caller must lower the quantization scale."""
    n, s, ss = state if state is not None else (0, 0, 0)
    for v in values:
        q = int(v * _SCALE // 1)  # floor quantization
        n += 1
        s += q
        ss += q * q
    if ss >= _SS_CAP:
        raise OverflowError(
            "moments state sum-of-squares exceeds the BIGINT budget; "
            "lower _SCALE (quantization) for this value magnitude"
        )
    return n, s, ss


def moments_stream(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """events (event_type, value) → running per-type mean/std/CV after
    each batch (update mode)."""

    def fold(key, ev, prev):
        n, s, ss = _fold_moments(ev["value"].tolist(), prev)
        mean = (s / _SCALE) / n
        var = (ss / (_SCALE * _SCALE)) / n - mean * mean
        std = var**0.5 if var > 0 else 0.0
        # SQL NULL (not NaN) for the 0/0 case: downstream recomputation
        # oracles and parquet round-trips compare NULL = NULL but NaN != NaN
        # across engines.
        cv = std / mean if mean != 0 else None
        return [(key[0], n, mean, std, cv)], (n, s, ss)

    return keyed_fold(
        events.select("event_type", "value"), "event_type", fold,
        MOMENTS_OUTPUT_SCHEMA, _STATE_SCHEMA, "update", timeout_ms,
    )
