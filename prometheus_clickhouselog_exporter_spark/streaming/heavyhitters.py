"""Streaming heavy hitters: a Misra–Gries summary per group as
`keyed_fold` state.

The batch twin (`heavy_hitter_tokens`) counts exactly in two phases; on
an unbounded stream exact counting needs O(distinct keys) state. The
Misra–Gries k-counter summary bounds state at k entries per group with
the classic deterministic guarantee: for every item x with true count
f(x), the summary's estimate e(x) satisfies e(x) ≤ f(x) ≤ e(x) + n/k
(n = items seen), and EVERY item with f(x) > n/k is present in the
summary — no false negatives above the threshold. Summaries are also
mergeable (fold one into another then decrement), which is what makes
the sketch the 100 TB/streaming answer: per-partition partials merge
exactly like the HLL/GK sketches in llmdata2.

State discipline mirrors the reference correlator (query.go:21-23 —
bounded map keyed by the group, folded per line): one (keys, counts,
n_seen) triple per group, O(k); the stream emits the full summary each
batch (update mode) so the sink always holds the latest view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .keyed_fold import keyed_fold

HH_OUTPUT_SCHEMA = (
    "event_type string, user_id bigint, est_count bigint, n_seen bigint"
)

_STATE_SCHEMA = "keys array<bigint>, counts array<bigint>, n_seen bigint"


def mg_fold(summary: dict[int, int], items: list[int], k: int) -> dict[int, int]:
    """Fold items into a Misra–Gries summary of capacity k−1 in place."""
    for u in items:
        if u in summary:
            summary[u] += 1
        elif len(summary) < k - 1:
            summary[u] = 1
        else:
            dead = []
            for key in summary:
                summary[key] -= 1
                if summary[key] == 0:
                    dead.append(key)
            for key in dead:
                del summary[key]
    return summary


def heavy_hitters_stream(events: DataFrame, k: int = 8) -> DataFrame:
    """events (event_type, ts, event_id, user_id, …) → per event_type the
    current Misra–Gries summary of heavy-hitter user_ids, re-emitted
    every batch the group receives data (update mode)."""

    def fold(key, ev, state):
        # deterministic fold order within the batch: (ts, event_id) —
        # MG's surviving low-count entries are order-dependent even
        # though its heavy-hitter guarantee is not
        ev = ev.sort_values(["ts", "event_id"])
        items = ev["user_id"].tolist()
        if state is not None:
            keys, counts, n_seen = state
            summary = dict(zip(keys, counts))
        else:
            summary, n_seen = {}, 0
        mg_fold(summary, items, k)
        n_seen += len(items)
        ks = list(summary.keys())
        return [(key[0], x, summary[x], n_seen) for x in ks], (
            ks, [summary[x] for x in ks], n_seen
        )

    return keyed_fold(
        events.select("event_type", "ts", "event_id", "user_id"), "event_type", fold,
        HH_OUTPUT_SCHEMA, _STATE_SCHEMA, "update",
    )
