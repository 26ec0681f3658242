"""CLI surface tests: batch mode end-to-end (exposition on stdout), the
/metrics HTTP handler, and the session parquet sink."""

from __future__ import annotations

import os
import subprocess
import sys
import urllib.request

from prometheus_clickhouselog_exporter_spark.streaming.sink import PrometheusSnapshotSink
from prometheus_clickhouselog_exporter_spark.__main__ import make_metrics_server

# The checkout under test: ``python -m`` imports the package from its cwd.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_batch_mode(fixture_log, tmp_path):
    out = subprocess.run(
        [sys.executable, "-m", "prometheus_clickhouselog_exporter_spark",
         fixture_log, "--batch", "--sink-path", str(tmp_path / "sessions")],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    text = out.stdout
    assert "chlogexporter_read_lines 52" in text
    assert 'chlogexporter_errors{type="not_found_query"} 3' in text
    assert 'clickhouse_query_count{type="select"} 12' in text
    assert 'clickhouse_query_time_bucket{type="insert",le="+Inf"} 1' in text
    import glob

    assert glob.glob(str(tmp_path / "sessions" / "*.parquet"))


def test_metrics_http_endpoint():
    sink = PrometheusSnapshotSink()
    sink.read_lines = 7
    sink.query_count["select"] = 3
    server = make_metrics_server(sink, "127.0.0.1", 0)
    import threading

    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        port = server.server_address[1]
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10).read().decode()
        assert "chlogexporter_read_lines 7" in body
        assert 'clickhouse_query_count{type="select"} 3' in body
        code = None
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=10)
        except urllib.error.HTTPError as e:
            code = e.code
        assert code == 404
    finally:
        server.shutdown()


def test_jdbc_sink_falls_back_to_parquet(spark, tmp_path):
    from prometheus_clickhouselog_exporter_spark.streaming.jdbc import write_sessions_jdbc

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    path = write_sessions_jdbc(
        df, "jdbc:clickhouse://nowhere:8123/default", "sessions",
        fallback_parquet=str(tmp_path / "fallback"),
    )
    assert path == "parquet"
    got = spark.read.parquet(str(tmp_path / "fallback")).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]
