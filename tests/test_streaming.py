"""Streaming-semantics tests (SURVEY §5.3): the full corpus through the
real Structured Streaming pipeline, cross-batch state, counter monotonicity,
timeout eviction, and the eviction-then-reuse behavior only streaming can
model (main.go:125-129)."""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timedelta

import pytest
from conftest import jobs_of

from prometheus_clickhouselog_exporter_spark.operators.correlate import correlate_batch
from prometheus_clickhouselog_exporter_spark.operators.metrics import metric_snapshot
from prometheus_clickhouselog_exporter_spark.operators.parsing import parse_log_lines
from prometheus_clickhouselog_exporter_spark.sources.fixtures import (
    FixtureLog,
    initial_line,
    memory_line,
    standard_corpus,
    stats_line,
)
from prometheus_clickhouselog_exporter_spark.sources.logsource import read_log_batch
from prometheus_clickhouselog_exporter_spark.streaming import (
    SESSION_OUTPUT_SCHEMA,
    PrometheusSnapshotSink,
    run_log_pipeline,
)

T = datetime(2024, 3, 1, 9, 0, 0)


def _run(spark, tmp_path, files: dict[str, list[str]]):
    """Write each file in order (one micro-batch each), run the pipeline to
    completion, return the sink."""
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    names = sorted(files)
    FixtureLog(files[names[0]]).write(str(log_dir / names[0]))
    pipe = run_log_pipeline(
        spark, str(log_dir), str(ckpt), PrometheusSnapshotSink(),
        max_files_per_trigger=1,
    )
    try:
        pipe.process_all_available()
        for name in names[1:]:
            FixtureLog(files[name]).write(str(log_dir / name))
            # distinct mtimes so the file source lists them in order
            os.utime(log_dir / name)
            pipe.process_all_available()
    finally:
        pipe.stop()
    return pipe.sink


def test_full_corpus_streaming_matches_batch_goldens(spark, tmp_path):
    sink = _run(spark, tmp_path, {"00.log": standard_corpus().lines})

    assert sink.read_lines == 52
    assert dict(sink.exporter_errors) == {
        "duplicated_initial_query": 1,
        "convert": 1,
        "not_found_query": 3,
    }
    assert dict(sink.query_count) == {"select": 12, "insert": 1, "update": 1, "delete": 1, "other": 1}
    assert dict(sink.query_errors) == {("select", "60"): 1, ("select", "47"): 1}
    # completed sessions: 6 non-insert happy-path + errmem + dup + 5 units
    assert sink.sessions == 13
    qt = sink.histograms["clickhouse_query_time"]
    assert qt["select"].total == 10
    assert qt["insert"].total == 1  # INSERT observed (query.go:228 precedes :231)
    rr = sink.histograms["clickhouse_select_query_rows_read"][""]
    assert rr.total == 12
    assert rr.counts[1e6] == 6
    # exposition renders and carries the counters
    text = sink.render_exposition()
    assert 'chlogexporter_errors{type="not_found_query"} 3' in text
    assert "clickhouse_query_time_bucket" in text


def test_batch_and_streaming_expositions_are_identical(spark, tmp_path, fixture_log):
    """--batch (tagged rows from ``metric_snapshot``) and the live stream
    (the session fold's rows) go through one merge: same bytes out."""
    raw = read_log_batch(spark, fixture_log)
    batch = PrometheusSnapshotSink()
    batch.load_metric_frames(metric_snapshot(raw, parse_log_lines(raw)))
    stream = _run(spark, tmp_path, {"00.log": standard_corpus().lines})
    assert batch.render_exposition() == stream.render_exposition()


def test_batch_and_streaming_agree_on_tied_initial_lines(spark, tmp_path):
    """Two initial lines of one query id at the same timestamp: both paths
    break the tie by the same (ts, line_hash) key, so they pick the same
    winner — same statement type counted, same sessions completed."""
    lines = [
        initial_line(T, 100, "q-tie", "10.0.0.1", 35000, "SELECT 0"),
        initial_line(T, 101, "q-tie", "10.0.0.2", 35001, "INSERT INTO t VALUES (0)"),
        memory_line(T + timedelta(seconds=2), 100, "q-tie", "1.00 MiB"),
    ]
    path = str(tmp_path / "tie.log")
    FixtureLog(lines).write(path)
    raw = read_log_batch(spark, path)
    parsed = parse_log_lines(raw)
    batch = PrometheusSnapshotSink()
    batch.load_metric_frames(metric_snapshot(raw, parsed))
    stream = _run(spark, tmp_path, {"00.log": lines})
    assert batch.render_exposition() == stream.render_exposition()
    assert stream.sessions == correlate_batch(parsed).filter("full_info").count()


def test_fresh_sink_exposes_zeroed_unlabelled_histograms():
    """A6-A9 are plain Histograms registered in init() (metrics.go:47-75):
    exposed at zero before any observation. A5 is a HistogramVec, so it has
    no series until a label set is observed."""
    text = PrometheusSnapshotSink().render_exposition()
    for name in ("rows_read", "bytes_read", "rows_per_second", "bytes_per_second"):
        assert f'clickhouse_select_query_{name}_bucket{{le="+Inf"}} 0\n' in text
        assert f"clickhouse_select_query_{name}_count 0\n" in text
    assert "clickhouse_query_time_bucket" not in text


def test_exposition_sums_keep_full_precision():
    """_sum values print as client_golang prints them (Go
    FormatFloat(v, 'g', -1, 64)): every digit of a large sum survives, so
    a small increment still moves rate(_sum)."""
    sink = PrometheusSnapshotSink()
    names = ("rows_read", "bytes_read", "rows_per_second", "bytes_per_second")
    for name, v in zip(names, (12345678901.0, 0.0, 86.5, 1e6)):
        sink.histograms[f"clickhouse_select_query_{name}"][""].sum = v
    text = sink.render_exposition()
    for name, want in zip(names, ("1.2345678901e+10", "0", "86.5", "1e+06")):
        assert f"clickhouse_select_query_{name}_sum {want}\n" in text
    assert 'clickhouse_select_query_rows_read_bucket{le="1e+06"} 0\n' in text


def test_cross_batch_correlation(spark, tmp_path):
    """initial in batch 1, stats+memory in batch 2 → still one session."""
    f1 = [initial_line(T, 1, "q-cross", "10.1.0.1", 9000, "SELECT 1")]
    f2 = [
        stats_line(T + timedelta(seconds=1), 1, "q-cross", 500, "1.00 KiB", 1.0, 500, "1.00 KiB"),
        memory_line(T + timedelta(seconds=2), 1, "q-cross", "1.00 MiB"),
    ]
    sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
    assert sink.sessions == 1
    assert dict(sink.exporter_errors) == {}
    assert sink.histograms["clickhouse_select_query_rows_read"][""].total == 1


def test_id_reuse_after_eviction_opens_fresh_session(spark, tmp_path):
    """After FullInfo eviction the same id is a NEW session — the exact
    map-delete behavior of main.go:125-129 that batch mode cannot model."""
    f1 = [
        initial_line(T, 1, "q-reuse", "10.1.0.1", 9000, "SELECT 1"),
        memory_line(T + timedelta(seconds=1), 1, "q-reuse", "1.00 MiB"),
    ]
    f2 = [
        initial_line(T + timedelta(minutes=1), 2, "q-reuse", "10.1.0.2", 9001, "SELECT 2"),
        memory_line(T + timedelta(minutes=1, seconds=3), 2, "q-reuse", "2.00 MiB"),
    ]
    sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
    assert sink.sessions == 2
    assert dict(sink.exporter_errors) == {}  # NOT a duplicated_initial_query
    assert sink.query_count["select"] == 2


def test_timeout_evicts_leaked_sessions(spark, tmp_path):
    """INSERT and error-only sessions leak forever in the reference
    (SURVEY ST5); the engine's state timeout evicts them.

    NB: while processing-time timers are pending, the engine keeps running
    no-data micro-batches, so `processAllAvailable()` never quiesces —
    the timeout phase must poll the sink instead.
    """
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    FixtureLog([initial_line(T, 1, "q-leak", "10.1.0.1", 9000, "INSERT INTO t VALUES (1)")]).write(
        str(log_dir / "00.log")
    )
    pipe = run_log_pipeline(
        spark, str(log_dir), str(tmp_path / "ckpt"), PrometheusSnapshotSink(),
        timeout_ms=300, max_files_per_trigger=1,
    )
    try:
        # No processAllAvailable here: once a processing-time timer is
        # armed the engine keeps scheduling no-data batches and that call
        # never returns. The micro-batch thread advances on its own; poll.
        deadline = time.time() + 120
        while time.time() < deadline and pipe.sink.timeouts == 0:
            time.sleep(0.5)
    finally:
        pipe.stop()
    assert pipe.sink.timeouts == 1
    assert pipe.sink.sessions == 0
    assert pipe.sink.query_count["insert"] == 1  # session opened, then evicted


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 100 TB state backend: sessionization on the RocksDB state-store
    provider (state off-heap/on-disk, bounded memory) must produce the
    same results as the default HDFS-backed store."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        f1 = [initial_line(T, 1, "q-rocks", "10.1.0.1", 9000, "SELECT 1")]
        f2 = [
            stats_line(T + timedelta(seconds=1), 1, "q-rocks", 500, "1.00 KiB", 1.0, 500, "1.00 KiB"),
            memory_line(T + timedelta(seconds=2), 1, "q-rocks", "1.00 MiB"),
        ]
        sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
        assert sink.sessions == 1
        assert dict(sink.exporter_errors) == {}
        assert sink.query_count["select"] == 1
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _batch(spark, rows: list[dict]):
    """A micro-batch of the session stream built by hand: every column of
    SESSION_OUTPUT_SCHEMA NULL unless the row sets it."""
    cols = spark.createDataFrame([], SESSION_OUTPUT_SCHEMA).columns
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], SESSION_OUTPUT_SCHEMA
    )


def _session(qid: str, **kw) -> dict:
    return {
        "row_type": "session", "id": qid, "stmt_type": "select", "start_time": T,
        "end_time": T + timedelta(seconds=2), "rows_read": 500, "bytes_read": 1024,
        "rps": 500, "speed": 1024, "memory": 2**20, "elapsed": 2.0, "error": False,
        "full_info": True, **kw,
    }


# Every row_type the session fold emits; NULL obs_label and NULL values in
# the histogram columns included. Session rows carry values in every
# histogram column too: they must count as sessions only.
_MIXED = (
    [{"row_type": "err", "err_type": "convert"}] * 2
    + [{"row_type": "err", "err_type": "not_found_query"}]
    + [{"row_type": "obs_initial", "obs_label": "select"}] * 2
    + [{"row_type": "obs_initial", "obs_label": "insert"}, {"row_type": "obs_initial"}]
    + [{"row_type": "obs_error", "obs_label": "select", "error_code": 60}] * 2
    + [{"row_type": "obs_error", "obs_label": "select", "error_code": 47},
       {"row_type": "obs_error", "obs_label": "insert", "error_code": 60}]
    + [{"row_type": "obs_time", "obs_label": "select", "elapsed": 0.5},
       {"row_type": "obs_time", "obs_label": "select", "elapsed": 3.0},
       {"row_type": "obs_time", "obs_label": "select"},
       {"row_type": "obs_time", "obs_label": "insert", "elapsed": 100.0},
       {"row_type": "obs_time", "elapsed": 2.0}]
    + [{"row_type": "obs_stats", "rows_read": 500, "bytes_read": 6 * 2**30,
        "rps": 60_000, "speed": 2**20},
       {"row_type": "obs_stats", "rows_read": 20_000_000, "bytes_read": 1024,
        "rps": 2_000_000, "speed": 600 * 2**20},
       {"row_type": "obs_stats"}]
    + [_session("s1"), _session("s2", error=True, error_code=60), _session("s3")]
    + [{"row_type": "timeout_evict", "id": "t1"}, {"row_type": "timeout_evict", "id": "t2"}]
)


def _cumulative(h) -> dict:
    return {b: int(h.counts[b]) for b in h.buckets}


def test_process_batch_merges_every_row_type_in_one_job(spark):
    """The fused merge on a static batch: exact deltas for every collector
    from one Spark job. Micro-batches run with adaptive execution off (the
    stream's own session disables it), so the call does here too."""
    sink = PrometheusSnapshotSink()
    df = _batch(spark, _MIXED)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs_of(spark, lambda: sink.process_batch(df, 0)) == 1
        empty = _batch(spark, [])
        assert jobs_of(spark, lambda: sink.process_batch(empty, 1)) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    assert dict(sink.exporter_errors) == {"convert": 2, "not_found_query": 1}
    assert dict(sink.query_count) == {"select": 2, "insert": 1, None: 1}
    assert dict(sink.query_errors) == {("select", "60"): 2, ("select", "47"): 1, ("insert", "60"): 1}
    assert sink.sessions == 3
    assert sink.timeouts == 2
    assert sink.read_lines == 0

    qt = sink.histograms["clickhouse_query_time"]
    assert set(qt) == {"select", "insert", None}
    assert (qt["select"].total, qt["select"].sum) == (2, 3.5)
    assert _cumulative(qt["select"]) == {b: (1 if b == 1 else 2) for b in qt["select"].buckets}
    assert (qt["insert"].total, qt["insert"].sum) == (1, 100.0)
    assert _cumulative(qt["insert"]) == {b: int(b >= 100) for b in qt["insert"].buckets}
    assert (qt[None].total, qt[None].sum) == (1, 2.0)
    assert _cumulative(qt[None]) == {b: int(b >= 2) for b in qt[None].buckets}

    def stats(name):
        by_label = sink.histograms[name]
        assert set(by_label) == {""}
        return by_label[""]

    rr = stats("clickhouse_select_query_rows_read")
    assert (rr.total, rr.sum) == (2, 20_000_500.0)
    assert _cumulative(rr) == {b: (b >= 500) + (b >= 2e7) for b in rr.buckets}
    br = stats("clickhouse_select_query_bytes_read")
    assert (br.total, br.sum) == (2, 6 * 2**30 + 1024.0)
    assert _cumulative(br) == {b: 1 + (b >= 6 * 2**30) for b in br.buckets}
    rps = stats("clickhouse_select_query_rows_per_second")
    assert (rps.total, rps.sum) == (2, 2_060_000.0)
    assert _cumulative(rps) == {b: (b >= 6e4) + (b >= 2e6) for b in rps.buckets}
    bps = stats("clickhouse_select_query_bytes_per_second")
    assert (bps.total, bps.sum) == (2, 601.0 * 2**20)
    assert _cumulative(bps) == {b: 1 + (b >= 600 * 2**20) for b in bps.buckets}


def test_process_batch_appends_only_session_rows_to_parquet(spark, tmp_path):
    path = str(tmp_path / "sessions")
    sink = PrometheusSnapshotSink(session_parquet_path=path)
    no_sessions = [r for r in _MIXED if r["row_type"] != "session"]
    sink.process_batch(_batch(spark, no_sessions), 0)
    assert not os.path.exists(path)  # nothing written, not even an empty file

    sink.process_batch(_batch(spark, _MIXED), 1)
    out = spark.read.parquet(path)
    dropped = {"row_type", "err_type", "obs_label"}
    assert out.columns == [c for c in _batch(spark, []).columns if c not in dropped]
    assert sorted(r["id"] for r in out.collect()) == ["s1", "s2", "s3"]
    files = sorted(os.listdir(path))

    sink.process_batch(_batch(spark, no_sessions), 2)
    assert sorted(os.listdir(path)) == files
    assert sink.sessions == 3
    assert sink.exporter_errors["convert"] == 6  # the merge still ran


class _SignallingSink(PrometheusSnapshotSink):
    """Sets ``in_batch`` when a session micro-batch enters the hook."""

    def __init__(self) -> None:
        super().__init__()
        self.in_batch = threading.Event()

    def process_batch(self, batch_df, epoch_id):
        self.in_batch.set()
        super().process_batch(batch_df, epoch_id)


def test_stop_live_pipeline_leaves_no_dead_stream(spark, tmp_path):
    """Graceful stop (K2) requested while the session stream's foreachBatch
    hook runs: both streams end without an error, and no stream thread
    dies on the way out. A thread killed mid-batch (a StackOverflowError
    in Spark's stop-interrupt check) leaves ``exception()`` empty; only
    the JVM's uncaught-exception report on System.err shows it, so that
    stream is captured around the stop."""
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    FixtureLog([initial_line(T, 1, "q-live", "10.1.0.1", 9000, "SELECT 1")]).write(
        str(log_dir / "00.log")
    )
    # The armed session timer makes every 1 s trigger run a micro-batch.
    pipe = run_log_pipeline(
        spark, str(log_dir), str(tmp_path / "ckpt"), _SignallingSink(),
        timeout_ms=3_600_000, max_files_per_trigger=1,
    )
    jvm = spark.sparkContext._jvm
    err, report = jvm.System.err, jvm.java.io.ByteArrayOutputStream()
    try:
        deadline = time.time() + 120
        while time.time() < deadline and pipe.sink.query_count["select"] == 0:
            time.sleep(0.2)
        pipe.sink.in_batch.clear()
        assert pipe.sink.in_batch.wait(30)
        jvm.System.setErr(jvm.java.io.PrintStream(report, True))
    finally:
        pipe.stop()
        jvm.System.setErr(err)
    assert pipe.sink.query_count["select"] == 1
    assert 'Exception in thread "stream execution thread' not in report.toString()
    for q in (pipe.sessions_query, pipe.lines_query):
        assert not q.isActive
        assert q.exception() is None
