"""Golden tests for the batch log pipeline over the fixture corpus
(SURVEY §5.1): parse counts, correlation semantics (first-wins dupes,
orphans, INSERT-never-completes, elapsed-from-memory-line), A1-A9 metrics.
Expected values are hand-computed from sources/fixtures.py."""

from __future__ import annotations

from datetime import datetime

import pytest
from conftest import jobs_of
from pyspark.sql import functions as F

from prometheus_clickhouselog_exporter_spark.operators.correlate import correlate_batch, enrich_parsed
from prometheus_clickhouselog_exporter_spark.operators.metrics import metric_snapshot
from prometheus_clickhouselog_exporter_spark.operators.parsing import parse_log_lines
from prometheus_clickhouselog_exporter_spark.sources.fixtures import (
    FixtureLog,
    initial_line,
    memory_line,
    standard_corpus,
)
from prometheus_clickhouselog_exporter_spark.sources.logsource import read_log_batch
from prometheus_clickhouselog_exporter_spark.streaming.sink import PrometheusSnapshotSink


@pytest.fixture(scope="module")
def parsed(spark, fixture_log):
    return parse_log_lines(read_log_batch(spark, fixture_log)).cache()


@pytest.fixture(scope="module")
def raw(spark, fixture_log):
    return read_log_batch(spark, fixture_log)


def test_line_and_kind_counts(raw, parsed):
    assert raw.count() == 52
    kinds = {r["event_kind"]: r["n"] for r in parsed.groupBy("event_kind").agg(F.count("*").alias("n")).collect()}
    assert kinds == {"initial": 17, "stats": 14, "memory": 15, "error": 3}


def test_parse_fields(parsed):
    sel = parsed.filter((F.col("id") == "q-sel") & (F.col("event_kind") == "initial")).collect()[0]
    assert sel["host"] == "10.0.0.1"
    assert sel["port"] == 35000
    assert sel["pid"] == 100
    assert sel["query"] == "SELECT count() FROM hits"
    assert str(sel["ts"]) == "2024-01-01 12:00:00"
    assert not sel["convert_error"]

    st = parsed.filter((F.col("id") == "q-sel") & (F.col("event_kind") == "stats")).collect()[0]
    assert st["rows_read"] == 1_000_000
    assert st["bytes_raw"] == "7.63 MiB"
    assert st["rps"] == 833_333
    assert st["elapsed_str"] == "1.200"  # captured but unused (query.go:16 vs :226)


def test_correlate_goldens(parsed):
    q = {r["id"]: r for r in correlate_batch(parsed).collect()}
    assert len(q) == 16

    sel = q["q-sel"]
    assert sel["stmt_type"] == "select"
    assert sel["rows_read"] == 1_000_000
    assert sel["bytes_read"] == 8_000_634  # 7.63 MiB, bytefmt 1024-based
    assert sel["speed"] == 6_668_943  # 6.36 MiB/sec
    assert sel["memory"] == 25_165_824  # 24.00 MiB
    assert sel["elapsed"] == pytest.approx(1.5)
    assert sel["full_info"] and not sel["error"]

    ins = q["q-ins"]
    assert ins["stmt_type"] == "insert"
    assert ins["end_time"] is not None
    assert not ins["full_info"]  # INSERT never completes (query.go:231-233)

    err = q["q-err"]
    assert err["error"] and err["error_code"] == 60
    assert err["error_message"] == "DB::Exception: Table default.missing doesn't exist."
    assert err["end_time"] is None and err["elapsed"] is None and not err["full_info"]

    errmem = q["q-errmem"]
    assert errmem["error"] and errmem["error_code"] == 47
    assert errmem["elapsed"] == pytest.approx(0.2)
    assert errmem["full_info"]  # error does not prevent completion

    dup = q["q-dup"]  # first initial wins (query.go:91-95)
    assert dup["host"] == "10.0.2.1" and dup["port"] == 41000 and dup["pid"] == 300
    assert dup["elapsed"] == pytest.approx(2.0)

    bad = q["q-badstats"]  # stats line skipped entirely on byte-parse failure
    assert bad["rows_read"] is None and bad["bytes_read"] is None
    assert not bad["full_info"]

    assert q["q-unit-3"]["bytes_read"] == 2_684_354_560  # 2.50 GiB
    assert q["q-cmt"]["stmt_type"] == "select"
    assert q["q-uni"]["stmt_type"] == "select"
    assert q["q-oth"]["stmt_type"] == "other"


def test_correlate_plan_shape(parsed):
    """Scale contract (SCALE.md): batch correlation is a single
    aggregation with no window operator, and the only exchange above the
    scan is the groupBy-id shuffle."""
    plan = correlate_batch(parsed)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # agg exchange (+1 AQE artifact max)


def test_event_row_contract(parsed):
    """``enrich_parsed`` is the one typed event row: no raw-string or
    convert_error column leaves it, and ``valid`` carries the cast verdict
    — False only on q-badstats' stats line (7.63 XiQ)."""
    ev = enrich_parsed(parsed)
    dropped = {"raw_line", "bytes_raw", "speed_raw", "memory_raw", "elapsed_str", "convert_error"}
    assert not dropped & set(ev.columns)
    bad = ev.filter(~F.col("valid")).select("id", "event_kind").collect()
    assert [tuple(r) for r in bad] == [("q-badstats", "stats")]


def _load(raw, parsed) -> PrometheusSnapshotSink:
    sink = PrometheusSnapshotSink()
    sink.load_metric_frames(metric_snapshot(raw, parsed))
    return sink


def test_metric_snapshot(raw, parsed):
    sink = _load(raw, parsed)

    assert sink.read_lines == 52
    assert dict(sink.query_count) == {"select": 12, "insert": 1, "update": 1, "delete": 1, "other": 1}
    assert dict(sink.query_errors) == {("select", "60"): 1, ("select", "47"): 1}
    assert dict(sink.exporter_errors) == {"duplicated_initial_query": 1, "convert": 1, "not_found_query": 3}

    qt = sink.histograms["clickhouse_query_time"]
    # observed per memory line, INSERT included (observe precedes FullInfo check)
    assert qt["select"].total == 10
    assert qt["insert"].total == 1
    assert qt["select"].counts[1] == 1  # only q-errmem's 0.2s
    assert qt["select"].counts[5] == 10

    rr = sink.histograms["clickhouse_select_query_rows_read"][""]
    assert rr.total == 12  # 7 sqls + 5 units; orphan + badstats skipped
    assert rr.counts[1e6] == 6  # 1M (q-sel) + five 100-row unit lines


def test_load_metric_frames_runs_two_jobs(spark, raw, parsed):
    """The read-lines count plus the sink's one grouped aggregate, with
    adaptive execution off so each action is one job."""
    frames = metric_snapshot(raw, parsed)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs_of(spark, lambda: PrometheusSnapshotSink().load_metric_frames(frames)) == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_metric_snapshot_rereads_a_grown_log(spark, tmp_path):
    """Two batch snapshots of one directory, the second after it gained a
    second corpus (ids renamed): the second reads the new data, not a
    cached copy of the first call's events."""
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    lines = standard_corpus().lines
    FixtureLog(lines).write(str(log_dir / "a.log"))

    def snapshot():
        raw = read_log_batch(spark, str(log_dir))
        parsed = parse_log_lines(raw).cache()
        try:
            return _load(raw, parsed)
        finally:
            parsed.unpersist()

    first = snapshot()
    FixtureLog([ln.replace("{q-", "{r-") for ln in lines]).write(str(log_dir / "b.log"))
    second = snapshot()
    assert second.read_lines == 2 * first.read_lines == 104
    assert dict(second.query_count) == {t: 2 * n for t, n in first.query_count.items()}
    assert dict(second.exporter_errors) == {t: 2 * n for t, n in first.exporter_errors.items()}


def test_batch_without_stats_lines(spark, tmp_path):
    """An initial line and its memory line only: the query is timed and the
    four unlabelled stats histograms render at zero."""
    t0, t1 = datetime(2024, 1, 1, 12), datetime(2024, 1, 1, 12, 0, 2)
    path = str(tmp_path / "clickhouse-server.log")
    FixtureLog([
        initial_line(t0, 100, "q-1", "10.0.0.1", 35000, "SELECT 1"),
        memory_line(t1, 100, "q-1", "1.00 MiB"),
    ]).write(path)
    raw = read_log_batch(spark, path)
    text = _load(raw, parse_log_lines(raw)).render_exposition()
    assert 'clickhouse_query_time_count{type="select"} 1\n' in text
    for name in ("rows_read", "bytes_read", "rows_per_second", "bytes_per_second"):
        assert f'clickhouse_select_query_{name}_bucket{{le="+Inf"}} 0\n' in text
        assert f"clickhouse_select_query_{name}_sum 0\n" in text


def test_observed_line_counters_ride_the_scan(parsed):
    """observe() counters materialize as a side effect of the next action
    — no second scan — and match the golden per-kind counts."""
    from prometheus_clickhouselog_exporter_spark.operators.metrics import (
        observed_line_counters,
    )

    observed, obs = observed_line_counters(parsed)
    n = observed.count()  # any action
    got = obs.get
    assert got["parsed_lines"] == n == 49
    assert (got["initial"], got["stats"], got["memory"], got["error"]) == (17, 14, 15, 3)
