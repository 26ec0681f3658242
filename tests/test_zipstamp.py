"""Zip imports re-read only when the archive changed: the stdlib contract
checked on a temp zip package without Spark, one keyed-fold stream whose
fold reports from the Python worker, and the static rule that ``zipimport``
lives in one module."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from prometheus_clickhouselog_exporter_spark import zipstamp
from prometheus_clickhouselog_exporter_spark.streaming.keyed_fold import keyed_fold

PKG = Path(__file__).resolve().parent.parent / "prometheus_clickhouselog_exporter_spark"
OLD_PYTHON = sys.version_info < (3, 13)


def write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zstamp_pkg/__init__.py", "")
        z.writestr("zstamp_pkg/sub/__init__.py", "")
        z.writestr("zstamp_pkg/sub/c.py", "VALUE = 3\n")
        for name, body in modules.items():
            z.writestr(f"zstamp_pkg/{name}.py", body)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package on ``sys.path``, the stdlib ``invalidate_caches`` in
    place, and a per-archive count of central-directory reads."""
    archive = tmp_path / "lib.zip"
    write_zip(archive, {"a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipstamp._reread)
    monkeypatch.setattr(zipstamp, "_CACHE_STAMPS", {})
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, lambda: reads.count(str(archive))
    for name in [m for m in sys.modules if m.split(".")[0] == "zstamp_pkg"]:
        del sys.modules[name]
    for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[p]


@pytest.mark.skipif(not OLD_PYTHON, reason="CPython >= 3.13 does not re-read on invalidate")
def test_unchanged_archive_is_not_reread_and_rewritten_one_is(zip_pkg):
    archive, reads = zip_pkg
    assert importlib.import_module("zstamp_pkg.a").VALUE == 1
    importlib.invalidate_caches()
    assert reads() >= 2  # the stdlib re-reads every importer of the archive
    before = reads()

    assert zipstamp.install() is True
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads() == before
    # an importer made after the install starts from the cached directory
    assert importlib.import_module("zstamp_pkg.sub.c").VALUE == 3
    importlib.invalidate_caches()
    assert reads() == before

    write_zip(archive, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads() == before + 1  # once, shared by every importer of the archive
    assert importlib.import_module("zstamp_pkg.b").VALUE == 2
    after = reads()
    importlib.invalidate_caches()
    assert reads() == after

    assert zipstamp.install() is False
    assert zipimport.zipimporter.invalidate_caches is zipstamp._invalidate_if_changed


def test_newer_python_is_left_untouched(zip_pkg, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipstamp.install() is False
    assert zipimport.zipimporter.invalidate_caches is zipstamp._reread


def test_zipimport_lives_only_in_zipstamp():
    sites = {
        path.relative_to(PKG).as_posix()
        for path in PKG.rglob("*.py")
        if "zipimport" in path.read_text()
    }
    assert sites == {"zipstamp.py"}


def test_keyed_fold_worker_stops_rereading_zips(spark, tmp_path):
    """Every key folds on every batch, so each worker that ran a task of
    the stream has installed the wrapper. A worker's next task is the one
    to check: its ``setup_spark_files`` must not re-read any archive.
    Idle Python workers are handed out oldest first, so a batch may land
    on workers the stream has not used yet; feed batches until one lands
    on a reused worker."""
    def reporting_fold(key, batch, state):
        """Runs on the worker: counts central-directory reads between fold calls
        in this process; the first call in a process starts the count."""
        import os
        import sys as wsys
        import zipimport as wzip

        from prometheus_clickhouselog_exporter_spark import zipstamp as wstamp

        counter = wzip._read_directory
        fresh = not hasattr(counter, "calls")
        if fresh:
            read = counter

            def counter(path):
                counter.calls += 1
                return read(path)

            counter.calls = 0
            wzip._read_directory = counter
        installed = wzip.zipimporter.invalidate_caches is wstamp._invalidate_if_changed
        zips = sum(isinstance(f, wzip.zipimporter) for f in wsys.path_importer_cache.values())
        row = (key[0], int(batch["b"].max()), os.getpid(), installed, fresh, counter.calls, zips)
        counter.calls = 0
        return [row], (1,)

    src = tmp_path / "in"
    src.mkdir()
    keys = [f"k{i}" for i in range(16)]
    out = "k string, b bigint, pid bigint, installed boolean, fresh boolean, reads bigint, zips bigint"
    stream = spark.readStream.schema("k string, b bigint").parquet(str(src))
    q = (
        keyed_fold(stream, "k", reporting_fold, out, "n bigint", "update")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("zipstamp_rows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for b in range(1, 9):
            pd.DataFrame({"k": keys, "b": b}).to_parquet(src / f"part-{b}.parquet")
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM zipstamp_rows").toPandas()
            if b >= 2 and not rows[(rows.b >= 2) & ~rows.fresh].empty:
                break
    finally:
        q.stop()
    assert set(rows.b) == set(range(1, b + 1))
    assert rows.installed.eq(OLD_PYTHON).all()
    reused = rows[(rows.b >= 2) & ~rows.fresh]
    assert not reused.empty, "no batch ran on a worker the stream had used"
    assert reused.zips.gt(0).all()  # workers import pyspark from a zip
    if OLD_PYTHON:
        assert reused.reads.eq(0).all(), reused
