"""One way to run iterative rounds over a DataFrame.

An iterative query is a state frame and a pure ``step`` that maps one
round's frame to the next. This module owns everything around the step:

- where a round's lineage is cut: every round is
  ``step(prev).localCheckpoint(eager=False)``, so round k's plan does not
  re-derive rounds 1..k-1 (the classic Spark iteration failure mode);
- the fixpoint probe: ``_checksum``, an order-free fingerprint of a round
  taken with one action;
- the cap: a ``fixpoint`` that has not converged after ``max_iter`` rounds
  raises instead of returning a partial result.

A fixed-round query calls ``rounds`` and reads the frames it needs (the
last, or the last two to certify convergence in the output); its oracle
SQL unrolls the same rounds. ``rounds`` calls no action, but under AQE each
lazy checkpoint still runs its round's shuffle stages when it is planned.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Step = Callable[[DataFrame], DataFrame]


def _checksum(df: DataFrame) -> tuple:
    """Order-free fingerprint of a frame, for any column types: (row
    count, bit_xor of every row's xxhash64). One action."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),  # order-free, no ANSI overflow
    ).collect()[0]
    return (row["n"], row["h"])


def rounds(state: DataFrame, step: Step, n: int) -> list[DataFrame]:
    """Exactly ``n`` rounds of ``step`` from ``state``: returns
    ``[state, round 1, ..., round n]``, each round lazily checkpointed.
    ``state`` itself is returned as given."""
    frames = [state]
    for _ in range(n):
        frames.append(step(frames[-1]).localCheckpoint(eager=False))
    return frames


def fixpoint(state: DataFrame, step: Step, max_iter: int, what: str) -> DataFrame:
    """Rounds of ``step`` from ``state`` until a round's ``_checksum``
    equals the previous round's; returns that round. ``state`` itself is
    not probed, so at least two rounds run. Raises ``RuntimeError`` naming
    ``what`` when ``max_iter`` rounds pass without a repeat."""
    prev = None
    for _ in range(max_iter):
        state = step(state).localCheckpoint(eager=False)
        cur = _checksum(state)
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(f"{what}: no fixpoint after max_iter={max_iter} rounds")
