"""Prometheus-style sink (reference K1, main.go:55-68 + metrics.go).

The reference exposes monotone counters/histograms via a pull endpoint.
Here each micro-batch is reduced IN SPARK by ONE grouped aggregate (one
Spark job) to a row per (row_type, err_type, obs_label, error_code) that
carries the row count and every histogram's bucket/count/sum deltas. Only
those few rows reach the driver, which routes each by its row_type into a
monotone snapshot — the same accumulate-forever semantics promhttp serves,
with per-batch cost independent of batch size and of the collector count.

``render_exposition()`` emits the Prometheus text format so the snapshot
can be served by any HTTP server (a real deployment would put this behind
a /metrics handler or push it to a ClickHouse/Parquet metrics table).
"""

from __future__ import annotations

import threading
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.histogram import (
    BYTES_PER_SEC_BUCKETS,
    BYTES_READ_BUCKETS,
    QUERY_TIME_BUCKETS,
    ROWS_PER_SEC_BUCKETS,
    ROWS_READ_BUCKETS,
    _le_name,
)

_HISTOGRAMS = {
    "clickhouse_query_time": ("elapsed", QUERY_TIME_BUCKETS, "obs_time", True),
    "clickhouse_select_query_rows_read": ("rows_read", ROWS_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_read": ("bytes_read", BYTES_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_rows_per_second": ("rps", ROWS_PER_SEC_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_per_second": ("speed", BYTES_PER_SEC_BUCKETS, "obs_stats", False),
}


class _Hist:
    def __init__(self, buckets):
        self.buckets = [float(b) for b in buckets]
        self.counts = defaultdict(float)  # le → cumulative count
        self.total = 0.0
        self.sum = 0.0


class PrometheusSnapshotSink:
    """foreachBatch target for the sessionized output stream.

    ``session_parquet_path``: optional parquet directory where completed
    session records are appended per batch — the downstream-publish hook
    the reference left as a TODO (main.go:126); swap the writer line for
    ``.format("jdbc")`` with a ClickHouse URL to land in ClickHouse.
    """

    def __init__(self, session_parquet_path: str | None = None) -> None:
        self.session_parquet_path = session_parquet_path
        self._lock = threading.Lock()
        self.read_lines = 0
        self.exporter_errors: dict[str, int] = defaultdict(int)
        self.query_count: dict[str, int] = defaultdict(int)
        self.query_errors: dict[tuple[str, str], int] = defaultdict(int)
        self.histograms: dict[str, dict[str, _Hist]] = {
            name: {} for name in _HISTOGRAMS
        }
        self.sessions = 0
        self.timeouts = 0

    # -- streaming hooks ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch of session/obs/err rows into the snapshot.

        One Spark action: a groupBy over the four label columns carries
        ``count(1)`` plus, per histogram, cumulative bucket sums,
        ``count(v)`` and ``sum(v)``. Each returned row is routed on the
        driver by its row_type. The batch is cached only when the parquet
        append reads it a second time.
        """
        aggs = [F.count(F.lit(1)).alias("n")]
        for name, (col, buckets, _, _) in _HISTOGRAMS.items():
            v = F.col(col).cast("double")
            aggs += [F.count_if(v <= float(b)).alias(f"{name}_b{i}") for i, b in enumerate(buckets)]
            aggs += [F.count(v).alias(f"{name}_cnt"), F.sum(v).alias(f"{name}_sum")]
        path = self.session_parquet_path
        if path:
            batch_df = batch_df.cache()
        try:
            keys = ("row_type", "err_type", "obs_label", "error_code")
            rows = batch_df.groupBy(*keys).agg(*aggs).collect()
            if path and any(r["row_type"] == "session" for r in rows):
                (batch_df.filter(F.col("row_type") == "session")
                 .drop("row_type", "err_type", "obs_label").write.mode("append").parquet(path))
        finally:
            if path:
                batch_df.unpersist()

        with self._lock:
            for r in rows:
                row_type, n = r["row_type"], r["n"]
                if row_type == "err":
                    self.exporter_errors[r["err_type"]] += n
                elif row_type == "obs_initial":
                    self.query_count[r["obs_label"]] += n
                elif row_type == "obs_error":
                    self.query_errors[(r["obs_label"], str(r["error_code"]))] += n
                elif row_type == "session":
                    self.sessions += n
                elif row_type == "timeout_evict":
                    self.timeouts += n
                for name, (_, buckets, hist_row_type, labelled) in _HISTOGRAMS.items():
                    if row_type != hist_row_type:
                        continue
                    label = r["obs_label"] if labelled else ""
                    h = self.histograms[name].setdefault(label, _Hist(buckets))
                    for i, b in enumerate(h.buckets):
                        h.counts[b] += r[f"{name}_b{i}"]
                    h.total += r[f"{name}_cnt"]
                    h.sum += r[f"{name}_sum"] or 0.0

    def count_lines_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """A1 read_lines (main.go:119): counts raw source lines per batch."""
        n = batch_df.count()
        with self._lock:
            self.read_lines += n

    # -- exposition ---------------------------------------------------------

    def load_metric_frames(self, frames: dict) -> None:
        """Populate the snapshot from `operators.metrics.metric_snapshot`
        DataFrames (batch mode — the CLI's --batch path)."""
        with self._lock:
            self.read_lines += frames["chlogexporter_read_lines"].collect()[0]["n"]
            for r in frames["chlogexporter_errors"].collect():
                self.exporter_errors[r["err_type"]] += r["n"]
            for r in frames["clickhouse_query_count"].collect():
                self.query_count[r["type"]] += r["n"]
            for r in frames["clickhouse_query_errors"].collect():
                self.query_errors[(r["type"], str(r["code"]))] += r["n"]
            for name, (col, buckets, _, labelled) in _HISTOGRAMS.items():
                for r in frames[name].collect():
                    label = r["type"] if labelled else ""
                    h = self.histograms[name].setdefault(label, _Hist(buckets))
                    for b in h.buckets:
                        h.counts[b] += r[_le_name(b)]
                    h.total += r["bucket_count"]
                    h.sum += r["bucket_sum"] or 0.0

    def render_exposition(self) -> str:
        """Prometheus text format, mirroring metrics.go collector names."""
        out: list[str] = []
        with self._lock:
            out.append("# TYPE chlogexporter_read_lines counter")
            out.append(f"chlogexporter_read_lines {self.read_lines}")
            out.append("# TYPE chlogexporter_errors counter")
            for t, n in sorted(self.exporter_errors.items()):
                out.append(f'chlogexporter_errors{{type="{t}"}} {n}')
            out.append("# TYPE clickhouse_query_count counter")
            for t, n in sorted(self.query_count.items()):
                out.append(f'clickhouse_query_count{{type="{t}"}} {n}')
            out.append("# TYPE clickhouse_query_errors counter")
            for (t, c), n in sorted(self.query_errors.items()):
                out.append(f'clickhouse_query_errors{{code="{c}",type="{t}"}} {n}')
            for name, by_label in self.histograms.items():
                out.append(f"# TYPE {name} histogram")
                for label, h in sorted(by_label.items()):
                    lbl = f'type="{label}",' if label else ""
                    for b in h.buckets:
                        out.append(f'{name}_bucket{{{lbl}le="{b:g}"}} {int(h.counts[b])}')
                    out.append(f'{name}_bucket{{{lbl}le="+Inf"}} {int(h.total)}')
                    out.append(f"{name}_sum{{{lbl[:-1]}}}" .replace("{}", "") + f" {h.sum:g}")
                    out.append(f"{name}_count{{{lbl[:-1]}}}".replace("{}", "") + f" {int(h.total)}")
        return "\n".join(out) + "\n"
