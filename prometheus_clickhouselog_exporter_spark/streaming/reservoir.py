"""Streaming weighted reservoir (Efraimidis–Spirakis A-ES) as a
``keyed_fold`` operator.

The A-ES sample is a pure top-k fold over per-row keys: key_i =
u_i^(1/w_i) computed ONCE per row, then the k largest keys win. Because
max-k is a commutative, idempotent monoid, the streaming form needs no
order contract at all (contrast streaming/sequential.py): state is just
the current top-k triples per stratum, and merging a micro-batch is
"concatenate, sort, truncate". The final reservoir is therefore
IDENTICAL to the batch sample over the same rows — the algebraic
property the streaming_reservoir_fidelity oracle certifies.

Determinism discipline: key_q is computed IN THE PLAN (Spark-side md5
arithmetic, quantized to integer nano-units — workloads/llmdata24) and
arrives here as a BIGINT; Python only sorts and truncates integers, so
no float ever enters the fold and batch boundaries cannot change the
result.

100 TB/streaming: O(|strata| · k) state — k (id, key, weight) triples
per stratum; each batch does one pandas sort of (state + batch-top-k)
rows per touched stratum. This is THE way to keep a live weighted
sample over an unbounded stream with bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold

RESERVOIR_OUTPUT_SCHEMA = (
    "event_type string, n_seen bigint, rk bigint, event_id bigint, "
    "w double, key_q bigint"
)
_RESERVOIR_STATE = (
    "ids array<bigint>, keys array<bigint>, ws array<double>, n_seen bigint"
)


def reservoir_stream(keyed: DataFrame, k: int = 20) -> DataFrame:
    """keyed (event_type, event_id, w, key_q) → after each micro-batch,
    the stratum's current top-k reservoir rows (update mode), tagged
    with n_seen so the harness can select the final emission per key."""

    def fold(key, batch, state):
        if state is not None:
            ids, keys, ws, n_seen = state
            ids, keys, ws = list(ids), list(keys), list(ws)
        else:
            ids, keys, ws, n_seen = [], [], [], 0
        ids.extend(int(x) for x in batch["event_id"])
        keys.extend(int(x) for x in batch["key_q"])
        ws.extend(float(x) for x in batch["w"])
        n_seen += len(batch)
        # top-k by (key desc, id asc) — integer compares only
        order = sorted(range(len(ids)), key=lambda i: (-keys[i], ids[i]))[:k]
        ids = [ids[i] for i in order]
        keys = [keys[i] for i in order]
        ws = [ws[i] for i in order]
        return [
            (key[0], n_seen, rk, i, w, q)
            for rk, (i, w, q) in enumerate(zip(ids, ws, keys), start=1)
        ], (ids, keys, ws, n_seen)

    return keyed_fold(
        keyed.select("event_type", "event_id", "w", "key_q"), "event_type", fold,
        RESERVOIR_OUTPUT_SCHEMA, _RESERVOIR_STATE, "update",
    )
