"""The one process-scoped cache (``sources.tables.memo``) and the one
session tmpdir base (``sources.tables.session_tmpdir``), plus the callers
whose correctness depends on them: the kNN edge-list memo and the
streaming moments fidelity harness."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from prometheus_clickhouselog_exporter_spark.sources import tables

from conftest import SF_DIR, FakeBroadcast

PKG = pathlib.Path(tables.__file__).resolve().parent.parent


@pytest.fixture
def memo_snapshot():
    """Restore the memo after the test, keeping the session base."""
    saved = dict(tables._MEMO)
    yield
    base = tables._MEMO.get(("session_base",))
    tables._MEMO.clear()
    tables._MEMO.update(saved)
    if base is not None:
        tables._MEMO[("session_base",)] = base


def test_memo_hit_miss_and_one_entry_per_slot(memo_snapshot):
    builds: list[int] = []

    def build(v):
        def run():
            builds.append(v)
            return f"value-{v}"

        return run

    slot = ("contract", "kind", 3)
    assert tables.memo(slot, 1, build(1)) == "value-1"
    assert tables.memo(slot, 1, build(99)) == "value-1"  # hit: no rebuild
    assert builds == [1]
    assert tables.memo(slot, 2, build(2)) == "value-2"  # version change: rebuild
    assert builds == [1, 2]
    assert [s for s in tables._MEMO if s == slot] == [slot]
    assert tables._MEMO[slot][0] == 2  # the superseded version is gone
    assert tables.memo(slot, 1, build(1)) == "value-1"  # old version rebuilds
    assert builds == [1, 2, 1]
    assert tables.memo(("contract", "other"), 1, build(7)) == "value-7"
    assert tables.memo(slot, 1, build(5)) == "value-1"  # slots are independent


def test_memo_failed_build_records_nothing(memo_snapshot):
    slot = ("contract", "fails")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        tables.memo(slot, 1, boom)
    assert slot not in tables._MEMO
    assert tables.memo(slot, 1, lambda: "ok") == "ok"


def test_memo_broadcast_release_rules(spark, monkeypatch, memo_snapshot):
    """A superseded Broadcast of the live application is destroyed; one
    built under another application is only dropped."""
    slot = ("contract", "bc")
    live = FakeBroadcast()
    tables.memo(slot, 1, lambda: live)
    tables.memo(slot, 2, lambda: "next")
    assert live.destroyed
    with monkeypatch.context() as m:
        m.setattr(tables, "_live_app", lambda: "local-gone")
        gone = tables.memo(slot, 3, FakeBroadcast)
    assert tables._MEMO[slot][2] == "local-gone"
    tables.memo(slot, 4, lambda: "live again")
    assert not gone.destroyed


def test_one_tmpdir_base_and_atexit_site():
    """Every temp directory the package makes lives under the one session
    base: one ``mkdtemp(`` and one ``atexit.register(`` in the package,
    both in ``sources/tables.py``."""
    sites = {"mkdtemp(": [], "atexit.register(": []}
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        for needle, found in sites.items():
            found += [path.relative_to(PKG).as_posix()] * text.count(needle)
    assert sites == {"mkdtemp(": ["sources/tables.py"], "atexit.register(": ["sources/tables.py"]}
    d = tables.session_tmpdir("probe-")
    assert os.path.isdir(d) and not os.listdir(d)
    assert os.path.dirname(d) == os.path.dirname(tables.session_tmpdir("probe-"))


def test_failed_edge_write_does_not_poison_the_session(spark, monkeypatch, memo_snapshot):
    """A write that fails after creating its target directory must not
    make the next call read that empty directory as a cached edge list."""
    from prometheus_clickhouselog_exporter_spark.operators import similarity as sim

    c_base = spark.createDataFrame(
        [(i, [float(i % 3 == j) + 0.1 * i for j in range(3)]) for i in range(12)],
        "nbr_id bigint, _cv array<double>",
    )
    c_ids = c_base.select("nbr_id", (F.col("nbr_id") % 2).alias("_bucket"))
    key = (("edges-regression", id(c_base)), 1)

    def fail_after_mkdir(self, path, *args, **kwargs):
        os.makedirs(path, exist_ok=True)
        raise RuntimeError("write failed")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", fail_after_mkdir)
        with pytest.raises(RuntimeError):
            sim._knn_edges(c_base, c_ids, 2, cache_key=key)
    want = sorted(map(tuple, sim._knn_edges(c_base, c_ids, 2).collect()))
    got = sorted(map(tuple, sim._knn_edges(c_base, c_ids, 2, cache_key=key).collect()))
    assert got == want and len(want) == 24
    hit = sim._knn_edges(c_base, c_ids, 2, cache_key=key)
    assert sorted(map(tuple, hit.collect())) == want


def _tree(path: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), path)
        for d, dirs, files in os.walk(path)
        for f in dirs + files
    }


def test_moments_fidelity_leaves_no_dir_or_view(spark, monkeypatch, tmp_path):
    """Two runs of streaming_moments_fidelity leave no directory behind
    (beyond the session-cached corpus of the first run) and no temp view."""
    import tempfile

    from prometheus_clickhouselog_exporter_spark.workloads.llmdata10 import (
        streaming_moments_fidelity,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    base = os.path.dirname(tables.session_tmpdir("probe-"))
    first = streaming_moments_fidelity(spark, SF_DIR).collect()
    dirs = (_tree(base), _tree(str(tmp_path)))
    views = {t.name for t in spark.catalog.listTables()}
    for _ in range(2):
        assert streaming_moments_fidelity(spark, SF_DIR).collect() == first
    assert (_tree(base), _tree(str(tmp_path))) == dirs
    assert {t.name for t in spark.catalog.listTables()} == views
    assert not any(re.match(r"moments_fid_\d+$", v) for v in views)
