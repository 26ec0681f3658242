"""The rounds primitive's contract, plus the static rule that it is the
package's only loop that cuts a round's lineage."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from prometheus_clickhouselog_exporter_spark.operators.rounds import fixpoint, rounds

PKG = Path(__file__).resolve().parent.parent / "prometheus_clickhouselog_exporter_spark"

# Loops that still cut a frame themselves: each cuts one in mid-round, and
# both the round's output and the next state read it, so a one-frame step
# would compute it twice or move the cut.
OWN_CUTS = {
    ("workloads/llmdata37.py", "_bpe_train"):
        "cuts the round's best merge pair, read by the merge table and the next corpus rewrite",
    ("workloads/relational57.py", "stats_esd_outlier_rounds"):
        "cuts the round's picked outlier, read by the output row and the next round's removal",
    ("operators/similarity.py", "_beam_loop"):
        "cuts the round's new nodes, read by the next frontier and the visited set; "
        "already one kernel shared by both beam rungs",
}


class Counting:
    """A step that counts its calls."""

    def __init__(self, fn):
        self.fn, self.calls = fn, 0

    def __call__(self, df):
        self.calls += 1
        return self.fn(df)


def _values(df) -> list:
    return sorted(r["v"] for r in df.collect())


def test_rounds_runs_step_n_times_and_returns_every_round(spark):
    state = spark.createDataFrame([(1,), (2,)], "v int")
    step = Counting(lambda df: df.select((F.col("v") * 2).alias("v")))
    frames = rounds(state, step, 3)
    assert step.calls == 3 and len(frames) == 4 and frames[0] is state
    assert [_values(f) for f in frames] == [[1, 2], [2, 4], [4, 8], [8, 16]]


def test_rounds_zero_returns_the_input_alone(spark):
    state = spark.createDataFrame([(1,)], "v int")
    step = Counting(lambda df: df)
    assert rounds(state, step, 0) == [state] and step.calls == 0


def _climb(spark):
    # v climbs 0 → 1 → 2 and stays: round 3 is the first repeat
    state = spark.createDataFrame([(i, 0) for i in range(5)], "id int, v int")
    return state, Counting(lambda df: df.select("id", F.least(F.col("v") + 1, F.lit(2)).alias("v")))


def test_fixpoint_stops_at_the_first_repeat(spark):
    state, step = _climb(spark)
    out = fixpoint(state, step, 10, "climb")
    assert step.calls == 3 and _values(out) == [2] * 5


def test_fixpoint_does_not_probe_its_input(spark):
    state = spark.createDataFrame([(1,)], "v int")
    step = Counting(lambda df: df)
    assert _values(fixpoint(state, step, 10, "identity")) == [1] and step.calls == 2


def test_fixpoint_cap_raises_with_name_and_cap(spark):
    state, step = _climb(spark)
    with pytest.raises(RuntimeError, match=r"^climb: no fixpoint after max_iter=2 rounds$"):
        fixpoint(state, step, 2, "climb")
    assert step.calls == 2


def _cutting_loops(node, fn=None):
    """The innermost enclosing def of every for/while loop that calls
    ``.localCheckpoint(``."""
    for child in ast.iter_child_nodes(node):
        inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
        if isinstance(child, (ast.For, ast.While)) and any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "localCheckpoint"
            for n in ast.walk(child)
        ):
            yield inner
        yield from _cutting_loops(child, inner)


def test_only_rounds_cuts_lineage_in_a_loop():
    found = set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        if rel != "operators/rounds.py":
            found |= {(rel, fn) for fn in _cutting_loops(ast.parse(path.read_text()))}
    assert found == set(OWN_CUTS)


def test_fixpoint_probe_and_cap_live_only_in_rounds():
    for needle in (r"\b_checksum\b", r"no fixpoint"):
        sites = {
            p.relative_to(PKG).as_posix()
            for p in PKG.rglob("*.py")
            if re.search(needle, p.read_text())
        }
        assert sites == {"operators/rounds.py"}, needle
