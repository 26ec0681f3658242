"""Prometheus-style sink (reference K1, main.go:55-68 + metrics.go).

The reference exposes monotone counters/histograms via a pull endpoint.
Every collector here is fed from one row shape: the session fold's tagged
rows in streaming (``session_state.fold_events``) and the same rows from
``operators.metrics.metric_snapshot`` in batch. One merge serves both: ONE
grouped aggregate (one Spark job) reduces the rows to one per (row_type,
err_type, obs_label, error_code) carrying the row count and every
histogram's bucket/count/sum deltas. Only those few rows reach the driver,
which routes each by its row_type into a monotone snapshot — the same
accumulate-forever semantics promhttp serves, with a cost per merge
independent of the row count and of the collector count.

``render_exposition()`` emits the Prometheus text format so the snapshot
can be served by any HTTP server (a real deployment would put this behind
a /metrics handler or push it to a ClickHouse/Parquet metrics table).
"""

from __future__ import annotations

import math
import threading
from collections import defaultdict
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.histogram import (
    BYTES_PER_SEC_BUCKETS,
    BYTES_READ_BUCKETS,
    QUERY_TIME_BUCKETS,
    ROWS_PER_SEC_BUCKETS,
    ROWS_READ_BUCKETS,
)

_HISTOGRAMS = {
    "clickhouse_query_time": ("elapsed", QUERY_TIME_BUCKETS, "obs_time", True),
    "clickhouse_select_query_rows_read": ("rows_read", ROWS_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_read": ("bytes_read", BYTES_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_rows_per_second": ("rps", ROWS_PER_SEC_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_per_second": ("speed", BYTES_PER_SEC_BUCKETS, "obs_stats", False),
}


def _go_float(v: float) -> str:
    """A sample value as client_golang writes it (Go
    ``strconv.FormatFloat(v, 'g', -1, 64)``): the shortest digits that
    read back as the same double, in exponent form when the decimal
    exponent is below -4 or at least 6. ``:g`` keeps only 6 significant
    digits, so a large ``_sum`` would hide every smaller increment."""
    if not math.isfinite(v):
        return "NaN" if math.isnan(v) else ("+Inf" if v > 0 else "-Inf")
    t = Decimal(repr(float(v))).normalize().as_tuple()
    nd = len(t.digits)
    exp = nd - 1 + t.exponent
    if exp < -4 or exp >= 6:
        return f"{v:.{nd - 1}e}"
    return f"{v:.{max(nd - 1 - exp, 0)}f}"


class _Hist:
    def __init__(self, buckets):
        self.buckets = [float(b) for b in buckets]
        self.counts = defaultdict(float)  # le → cumulative count
        self.total = 0.0
        self.exact_sum = Decimal(0)  # exact, so independent of merge order

    @property
    def sum(self) -> float:
        return float(self.exact_sum)

    @sum.setter
    def sum(self, v: float) -> None:
        self.exact_sum = Decimal(v)


class PrometheusSnapshotSink:
    """foreachBatch target for the sessionized output stream, and the
    snapshot the CLI's --batch path loads (``load_metric_frames``).

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
        # The unlabelled histograms (A6-A9) exist from the first scrape, as
        # client_golang exposes a registered plain Histogram at zero.
        self.histograms: dict[str, dict[str, _Hist]] = {
            name: {} if labelled else {"": _Hist(buckets)}
            for name, (_, buckets, _, labelled) in _HISTOGRAMS.items()
        }
        self.sessions = 0
        self.timeouts = 0

    # -- streaming hooks ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch of session/obs/err rows into the snapshot
        and append its completed sessions to ``session_parquet_path``. The
        batch is cached only when that append reads it a second time."""
        path = self.session_parquet_path
        if path:
            batch_df = batch_df.cache()
        try:
            rows = self._aggregate(batch_df)
            if path and any(r["row_type"] == "session" for r in rows):
                (batch_df.filter(F.col("row_type") == "session")
                 .drop("row_type", "err_type", "obs_label").write.mode("append").parquet(path))
        finally:
            if path:
                batch_df.unpersist()
        with self._lock:
            self._route(rows)

    def count_lines_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """A1 read_lines (main.go:119): counts raw source lines per batch."""
        n = batch_df.count()
        with self._lock:
            self.read_lines += n

    # -- batch load ---------------------------------------------------------

    def load_metric_frames(self, frames: dict) -> None:
        """Merge `operators.metrics.metric_snapshot` frames (batch mode —
        the CLI's --batch path): the tagged ``events`` through the same
        aggregate as a micro-batch, plus the read-lines count."""
        rows = self._aggregate(frames["events"])
        n = frames["chlogexporter_read_lines"].collect()[0]["n"]
        with self._lock:
            self.read_lines += n
            self._route(rows)

    # -- the one merge ------------------------------------------------------

    @staticmethod
    def _aggregate(df: DataFrame) -> list:
        """One Spark action: a groupBy over the four label columns carries
        ``count(1)`` plus, per histogram, cumulative bucket sums,
        ``count(v)`` and ``sum(v)``. The sum is a ``decimal(38,6)``: exact
        for the µs-resolution ``elapsed`` and the integer stats values, so
        it does not depend on how the rows are partitioned."""
        aggs = [F.count(F.lit(1)).alias("n")]
        for name, (col, buckets, _, _) in _HISTOGRAMS.items():
            v = F.col(col).cast("double")
            aggs += [F.count_if(v <= float(b)).alias(f"{name}_b{i}") for i, b in enumerate(buckets)]
            aggs += [
                F.count(v).alias(f"{name}_cnt"),
                F.sum(F.col(col).cast("decimal(38,6)")).alias(f"{name}_sum"),
            ]
        return df.groupBy("row_type", "err_type", "obs_label", "error_code").agg(*aggs).collect()

    def _route(self, rows: list) -> None:
        """Add each aggregated row to the collectors its row_type feeds.
        The caller holds ``_lock``."""
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
                h.exact_sum += r[f"{name}_sum"] or 0

    # -- exposition ---------------------------------------------------------

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
                    out.append(f"{name}_sum{{{lbl[:-1]}}}" .replace("{}", "") + f" {_go_float(h.sum)}")
                    out.append(f"{name}_count{{{lbl[:-1]}}}".replace("{}", "") + f" {int(h.total)}")
        return "\n".join(out) + "\n"
