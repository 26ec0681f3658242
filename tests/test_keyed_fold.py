"""The keyed-fold primitive's GroupState contract, checked without Spark
against a fake GroupState, plus the static rule that it is the package's
only applyInPandasWithState site."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from pyspark.sql.streaming.state import GroupStateTimeout

from prometheus_clickhouselog_exporter_spark.streaming.keyed_fold import keyed_fold, ts_micros

PKG = Path(__file__).resolve().parent.parent / "prometheus_clickhouselog_exporter_spark"
OUT = "k string, total bigint, at timestamp"
STATE = "total bigint"


class FakeState:
    """The slice of ``GroupState`` the primitive may touch."""

    def __init__(self, value: tuple | None = None, timed_out: bool = False):
        self.value = value
        self.hasTimedOut = timed_out
        self.timeout_ms: int | None = None

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self) -> tuple:
        if self.value is None:
            raise ValueError("state is not set")
        return self.value

    def update(self, value: tuple) -> None:
        self.value = value

    def remove(self) -> None:
        self.value = None

    def setTimeoutDuration(self, ms: int) -> None:
        self.timeout_ms = ms


class FakeFrame:
    """Records the groupBy key and the applyInPandasWithState arguments."""

    def groupBy(self, key):
        self.key = key
        return self

    def applyInPandasWithState(self, func, out_schema, state_schema, mode, timeout_conf):
        self.func, self.args = func, (out_schema, state_schema, mode, timeout_conf)
        return self


def summing_fold(key, batch, state):
    total = (state[0] if state is not None else 0) + int(batch["v"].sum())
    return [(key[0], total, pd.Timestamp(total, unit="s"))], (total,)


def run(fold, state, frames, timeout_ms=0, on_timeout=None):
    df = keyed_fold(FakeFrame(), "k", fold, OUT, STATE, "update", timeout_ms, on_timeout)
    out = list(df.func(("a",), iter(frames), state))
    return df, out


def frame(*vs):
    return pd.DataFrame({"k": ["a"] * len(vs), "v": list(vs)})


def never(*_):
    raise AssertionError("the fold must not run")


@pytest.mark.parametrize(
    "timeout_ms, conf",
    [(0, GroupStateTimeout.NoTimeout), (5000, GroupStateTimeout.ProcessingTimeTimeout)],
)
def test_kept_state_is_updated_and_rearmed_iff_timeout(timeout_ms, conf):
    state = FakeState((10,))
    df, out = run(summing_fold, state, [frame(1, 2), frame(), frame(3)], timeout_ms)
    assert df.key == "k" and df.args == (OUT, STATE, "update", conf)
    assert state.value == (16,)
    assert state.timeout_ms == (timeout_ms or None)
    [pdf] = out
    assert list(pdf.columns) == ["k", "total", "at"]
    assert pdf.values.tolist() == [["a", 16, pd.Timestamp(16, unit="s")]]


def test_new_key_sees_none_and_frames_concatenate_once():
    seen = []

    def fold(key, batch, state):
        seen.append((state, batch["v"].tolist(), batch.index.tolist()))
        return [], (0,)

    run(fold, FakeState(), [frame(4), frame(5, 6)])
    assert seen == [(None, [4, 5, 6], [0, 1, 2])]


@pytest.mark.parametrize("timeout_ms", [0, 5000])
def test_none_state_removes_the_key_without_rearming(timeout_ms):
    state = FakeState((1,))
    _, out = run(lambda k, b, s: ([(k[0], 0, None)], None), state, [frame(1)], timeout_ms)
    assert not state.exists and state.timeout_ms is None
    assert [p.values.tolist() for p in out] == [[["a", 0, None]]]


def test_empty_input_leaves_the_state_untouched():
    for frames in ([], [frame(), frame()]):
        state = FakeState((7,))
        _, out = run(never, state, frames, timeout_ms=5000)
        assert out == [] and state.value == (7,) and state.timeout_ms is None


def test_timed_out_key_without_hook_is_removed_silently():
    state = FakeState((7,), timed_out=True)
    _, out = run(never, state, [], timeout_ms=5000)
    assert out == [] and not state.exists and state.timeout_ms is None


def test_timed_out_key_with_hook_emits_then_is_removed():
    state = FakeState((7,), timed_out=True)
    _, out = run(never, state, [], 5000, on_timeout=lambda k, s: [(k[0], s[0], None)])
    assert [p.values.tolist() for p in out] == [[["a", 7, None]]]
    assert not state.exists and state.timeout_ms is None


def test_fold_exception_propagates_and_state_is_kept():
    def boom(key, batch, state):
        raise OverflowError("budget")

    state = FakeState((3,))
    with pytest.raises(OverflowError, match="budget"):
        run(boom, state, [frame(1)], timeout_ms=5000)
    assert state.value == (3,) and state.timeout_ms is None


def test_ts_micros_is_resolution_safe():
    stamps = ["2024-06-01 08:00:00.123456", "1969-12-31 23:59:59.999999", None]
    ns = pd.Series(pd.to_datetime(stamps)).astype("datetime64[ns]")
    us = ns.astype("datetime64[us]")
    want = [1717228800123456, -1, np.iinfo("int64").min]
    assert ts_micros(ns).tolist() == want
    assert ts_micros(us).tolist() == want


def test_group_state_protocol_lives_only_in_keyed_fold():
    needles = ("applyInPandasWithState(", "GroupState", "hasTimedOut", "setTimeoutDuration")
    sites = {n: set() for n in needles}
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        for n in needles:
            if n in text:
                sites[n].add(path.relative_to(PKG).as_posix())
    assert sites == {n: {"streaming/keyed_fold.py"} for n in needles}
